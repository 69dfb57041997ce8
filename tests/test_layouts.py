"""Write-time layout demonstrations: partition-pruned IVF probes and
exchange-free bucketed joins — the executable form of the 100 TB claims in
operators/similarity.py and tables.py docstrings."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark import plans, tables
from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
from boletia_kubernetes_kafka_mongodb_spark.sources import layouts
from tests.conftest import SF_CORRECT, SF_SMOKE, compare_with_oracle


def test_ivf_layout_prunes_partitions_and_matches_oracle(spark, duck, tmp_path):
    path = f"{tmp_path}/emb_ivf"
    S.write_ivf_layout(spark, SF_CORRECT, path)

    probe_df = layouts.read_partitions(spark, path, "ivf_list", [0, 3])
    plan = plans.explain_str(probe_df)
    # the list filter must resolve at planning time, not as a row predicate
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1)

    # pruned scan reads exactly the probe lists
    got_lists = {r.ivf_list for r in probe_df.select("ivf_list").distinct().collect()}
    assert got_lists <= {0, 3}

    # end-to-end: the one IVF serve over this layout == the DuckDB
    # re-derivation (centroids, assignment, probe lists and re-rank in SQL)
    compare_with_oracle(
        spark,
        duck,
        lambda s, sf: S.ann_ivf_serve(s, sf, path, S.ivf_quantizer(s, sf)[1]),
        S.ext_ann_ivf_topk_oracle(),
    )


def test_ext_ann_ivf_topk_serves_from_pruned_layout(spark, duck):
    """The driver query itself must plan a partition-pruned scan of the IVF
    layout (not a full-corpus UDF re-assignment) and agree with the DuckDB
    oracle."""
    df = S.ext_ann_ivf_topk(spark, SF_CORRECT)  # builds layout on first call
    plan = plans.explain_str(df)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1)
    compare_with_oracle(spark, duck, S.ext_ann_ivf_topk, S.ext_ann_ivf_topk_oracle())


def test_srp_layout_prunes_partitions_and_matches_oracle(spark, duck, tmp_path):
    """The SRP band-bucket layout: probe plans a partition-pruned scan and
    the served top-k equals the DuckDB oracle, which re-derives the
    hyperplanes, band codes, candidate set and re-rank in SQL."""
    path = f"{tmp_path}/emb_srp"
    S.write_srp_band_layout(spark, SF_CORRECT, path)

    probe_df = layouts.read_partitions(spark, path, "srp_bucket", [0, 70, 130])
    plan = plans.explain_str(probe_df)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "srp_bucket" in m.group(1)
    got_buckets = {r.srp_bucket for r in probe_df.select("srp_bucket").distinct().collect()}
    assert got_buckets <= {0, 70, 130}

    compare_with_oracle(
        spark,
        duck,
        lambda s, sf: S.ann_lsh_serve(s, sf, path),
        S.ext_ann_lsh_topk_oracle(),
    )


def test_ext_ann_lsh_topk_serves_from_pruned_layout(spark, duck):
    """The driver query itself must plan a partition-pruned scan of the SRP
    layout (not the full-corpus UDF band filter) and agree with the DuckDB
    oracle."""
    df = S.ext_ann_lsh_topk(spark, SF_CORRECT)  # builds layout on first call
    plan = plans.explain_str(df)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "srp_bucket" in m.group(1)
    compare_with_oracle(spark, duck, S.ext_ann_lsh_topk, S.ext_ann_lsh_topk_oracle())


def test_driver_join_availability_bucketed_is_exchange_free(spark):
    """The driver query id itself (not just the layouts helper) must plan
    the co-located bucket join: no Exchange anywhere, and it must agree
    with the shuffling J4 it twins."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import joins

    df = joins.join_availability_bucketed(spark, SF_SMOKE)
    plan = plans.explain_str(df)
    # no SHUFFLE exchange: AQE may legitimately pick a BroadcastExchange
    # when the aggregated side is tiny (smoke scale) — the bucket layout's
    # point is that nothing ever hash-REPARTITIONS
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    got = sorted(map(tuple, df.collect()))
    ref = sorted(map(tuple, joins.join_availability(spark, SF_SMOKE).collect()))
    assert got == ref


def test_bucketed_availability_join_is_exchange_free(spark, tmp_path):
    db = "boletia_bucketed_test"
    layouts.write_bucketed_tables(spark, SF_SMOKE, f"{tmp_path}/wh")
    layouts.register_bucketed_tables(spark, db, f"{tmp_path}/wh")
    try:
        joined = layouts.availability_join_bucketed(spark, db=db)
        plan = plans.explain_str(joined)
        # bucket-co-located join + bucket-aligned aggregate: zero exchanges
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        # and the result matches the ordinary (broadcast-join) inventario view
        expected = sorted(
            map(tuple, tables.inventario(spark, SF_SMOKE).collect())
        )
        got = sorted(map(tuple, joined.collect()))
        assert got == expected
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_time_partitioned_layout_prunes_days(spark, tmp_path):
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts
    import pyspark.sql.functions as F

    path = str(tmp_path / "events_by_day")
    layouts.write_time_partitioned_events(spark, "/root/testdata/sf0.001", path)

    ev = tables.load(spark, "/root/testdata/sf0.001", "events")
    days = sorted(
        r.dt.isoformat()
        for r in ev.select(F.to_date(F.col("ts").cast("timestamp")).alias("dt"))
        .distinct()
        .collect()
    )
    assert len(days) >= 3  # fixture spans multiple days; else the test is vacuous
    start, end = days[0], days[0]  # single-day probe

    probe = layouts.read_day_range(spark, path, start, end)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the dt predicate must be a partition filter, not a row filter
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:200]

    # equality with the in-memory filter on the same day
    want = (
        ev.where(F.to_date(F.col("ts").cast("timestamp")) == F.lit(start))
        .count()
    )
    assert probe.count() == want > 0

    # layout writes one file per day (repartition('dt') — no small-file blowup)
    import glob, os
    day_dirs = glob.glob(os.path.join(path, "dt=*"))
    assert len(day_dirs) == len(days)
    for d in day_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1


def test_compact_layout_reduces_files_preserves_rows(spark, tmp_path):
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream, layouts
    import glob

    ev = tables.load(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "fragmented")
    # simulate micro-batch append fragmentation: 16 tiny files
    cdc_stream.write_ordered_files(ev, path, n_files=16, order_col="event_id")
    assert len(glob.glob(path + "/*.parquet")) == 16
    before = sorted(map(str, spark.read.parquet(path).collect()))

    n_out = layouts.compact_layout(spark, path)  # tiny total → 1 file
    assert n_out == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    after = sorted(map(str, spark.read.parquet(path).collect()))
    assert after == before


def test_compact_layout_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a dt=-partitioned layout must keep the hive directories
    (and therefore partition pruning) intact — not flatten dt into row
    data — and must not lose rows."""
    import glob
    import os

    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts

    path = str(tmp_path / "events_by_day")
    layouts.write_time_partitioned_events(spark, "/root/testdata/sf0.001", path)
    days_before = sorted(os.path.basename(d) for d in glob.glob(path + "/dt=*"))
    rows_before = sorted(map(str, spark.read.parquet(path).collect()))
    assert days_before  # vacuous otherwise

    n_out = layouts.compact_layout(spark, path)
    assert n_out == len(days_before)  # one file per day directory
    days_after = sorted(os.path.basename(d) for d in glob.glob(path + "/dt=*"))
    assert days_after == days_before
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")
    rows_after = sorted(map(str, spark.read.parquet(path).collect()))
    assert rows_after == rows_before

    # pruning still works post-compaction
    probe = layouts.read_day_range(
        spark, path, days_before[0].split("=")[1], days_before[0].split("=")[1]
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_corpus_snapshot_manifest_and_pruned_slices(spark, tmp_path):
    """The terminal snapshot write: only keep=true docs persist, the
    manifest matches the written data, and a trainer's (split, lang) slice
    read is partition-pruned."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        ext_corpus_keep_list,
    )
    from boletia_kubernetes_kafka_mongodb_spark.sources.layouts import (
        read_corpus_slice,
        write_corpus_snapshot,
    )

    path = str(tmp_path / "snapshot")
    manifest = write_corpus_snapshot(spark, SF_SMOKE, path).collect()
    keep = ext_corpus_keep_list(spark, SF_SMOKE).where(F.col("keep")).collect()
    assert sum(r.n_docs for r in manifest) == len(keep)
    # keep-list semantics: only train survives the keep verdict
    assert {r.split for r in manifest} == {"train"}

    sl = read_corpus_slice(spark, path, "train", "en")
    plan = plans.explain_str(sl)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:250]
    assert "split" in pf and "lang" in pf
    # slice contents = exactly the keep-list's en train docs
    langs = {
        r.doc_id: r.lang
        for r in tables.load(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    want = {r.doc_id for r in keep if langs[r.doc_id] == "en"}
    got = {r.doc_id for r in sl.collect()}
    assert got == want and got


def test_zorder_layout_selective_on_both_dimensions(spark, tmp_path):
    """Z-ordered files carry tight min/max on BOTH (user_id, value) —
    the property footer-statistics skipping needs — where a linear
    user_id sort leaves value unconstrained per file; row content is
    preserved."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.sources import layouts

    sf = SF_SMOKE
    zpath = str(tmp_path / "zorder")
    layouts.write_zorder_events(spark, sf, zpath, n_files=8)

    ev = tables.load(spark, sf, "events")
    lpath = str(tmp_path / "linear")
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(lpath)

    def spreads(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        per = (
            df.groupBy("f")
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("su"),
                (F.max("value") - F.min("value")).alias("sv"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        tot_u = ev.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]
        tot_v = ev.agg(F.max("value") - F.min("value")).collect()[0][0]
        import statistics

        return (
            statistics.mean(r.su / tot_u for r in per),
            statistics.mean(r.sv / tot_v for r in per),
            sum(r.n for r in per),
        )

    zu, zv, zn = spreads(zpath)
    lu, lv, ln = spreads(lpath)
    assert zn == ln == ev.count()
    # linear layout: tight on user_id, value essentially unconstrained
    assert lu < 0.35 and lv > 0.6
    # z-order: BOTH dimensions materially constrained per file, value
    # clearly tighter than under the linear sort (the whole point)
    assert zu < 0.75 and zv < 0.75
    assert zv < 0.8 * lv
    # the real z-order property: the WORST dimension is bounded — a linear
    # sort leaves one dimension unskippable, the curve leaves neither
    assert max(zu, zv) < max(lu, lv)


def test_ext_ann_ivfpq_topk_pruned_plan_and_recall(spark):
    """The composed IVFPQ serve (round-3 verdict #2): the plan must scan
    ONLY the probed IVF partitions (directory-level pruning — no
    full-corpus encode stage anywhere), recall vs brute force must hold,
    and the ADC shortlist must be the IVFPQ_RERANK-bounded one."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity

    df = similarity.ext_ann_ivfpq_topk(spark, SF_SMOKE)
    plan = plans.explain_str(df)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1)

    got = df.collect()
    assert len(got) == similarity.TOPK
    truth = {
        r.vec_id
        for r in similarity.ext_topk_similarity(spark, SF_SMOKE).collect()
    }
    recall = len(truth & {r.vec_id for r in got}) / len(truth)
    assert recall >= 0.7, f"IVFPQ recall {recall:.2f}"
    # every returned neighbor must come from the probed lists (the coarse
    # quantizer's contract) — re-derive the probe set and assignments
    assign_udf, C = similarity.ivf_quantizer(spark, SF_SMOKE)
    q_vec = similarity.query_vector(spark, SF_SMOKE)
    probe = set(similarity.ivf_probe_mask(C, q_vec)[:, 0].nonzero()[0].tolist())
    emb = tables.load(spark, SF_SMOKE, "embeddings")
    lists = {
        r.vec_id: r.lst
        for r in emb.select(
            "vec_id", assign_udf("embedding").alias("lst")
        ).collect()
    }
    for r in got:
        assert lists[r.vec_id] in probe, (r.vec_id, lists[r.vec_id])


def test_bucketed_tables_reregister_committed_tree_without_rewrite(spark, monkeypatch):
    """The bucketed files are one committed tree shared by every session:
    once the database is gone from the catalog (a new session, or a drop),
    ensure registers that same tree again without rewriting it, and the
    availability join over it stays exchange-free and correct."""
    import os
    from urllib.parse import urlparse

    from boletia_kubernetes_kafka_mongodb_spark.operators import joins

    def bucket_files(db):
        return sorted(
            (f, os.stat(urlparse(f).path).st_mtime_ns)
            for name, _, _ in layouts.BUCKETED
            for f in spark.table(f"{db}.{name}").inputFiles()
        )

    db = layouts.ensure_bucketed_tables(spark, SF_SMOKE)
    before = bucket_files(db)
    spark.sql(f"DROP DATABASE {db} CASCADE")
    assert not spark.catalog.databaseExists(db)

    def no_rewrite(*_a, **_k):
        raise AssertionError("committed bucketed tree was rewritten")

    monkeypatch.setattr(layouts, "write_bucketed_tables", no_rewrite)
    assert layouts.ensure_bucketed_tables(spark, SF_SMOKE) == db
    assert before and bucket_files(db) == before

    df = joins.join_availability_bucketed(spark, SF_SMOKE)
    plan = plans.explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "SelectedBucketsCount" in plan
    got = sorted(map(tuple, df.collect()))
    assert got == sorted(map(tuple, joins.join_availability(spark, SF_SMOKE).collect()))


# --- round 10: IVF index refresh under corpus growth ------------------------


def test_ivf_refresh_layout_equals_rebuild(spark):
    """The append must place every arriving vector exactly where a
    from-scratch rebuild under the SAME frozen quantizer would — the
    refreshed layout's (vec_id, ivf_list) set equals the one-shot
    assignment of the full grown corpus."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S

    path = S.ensure_refreshed_ivf_layout(spark, SF_SMOKE)
    got = sorted(
        map(tuple, layouts.read_layout(spark, path).select("vec_id", "ivf_list").collect())
    )
    assign, _ = S._ivf_standing_quantizer(spark, SF_SMOKE)
    emb = tables.load(spark, SF_SMOKE, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    want = sorted(
        map(
            tuple,
            emb.select("vec_id", assign("embedding").cast("int").alias("ivf_list")).collect(),
        )
    )
    assert got == want and len(got) > 0

    # the arriving (test-split) vectors are physically present
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )

    arriving = {
        r.vec_id
        for r in emb.select(
            "vec_id", split_assignment("vec_id").alias("s")
        ).collect()
        if r.s == "test"
    }
    assert arriving and arriving <= {v for v, _ in got}


def test_ivf_refresh_serve_pruned_and_arriving_servable(spark):
    """The refreshed layout serves through the one IVF serve with the
    frozen standing quantizer: the probe scan is partition-pruned, the
    served top-k equals a numpy brute force over the same frozen
    quantizer, and appended (arriving) vectors are candidates the moment
    the refresh commits."""
    import numpy as np

    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )

    path = S.ensure_refreshed_ivf_layout(spark, SF_SMOKE)
    _, C = S._ivf_standing_quantizer(spark, SF_SMOKE)
    served = S.ann_ivf_serve(spark, SF_SMOKE, path, C)
    plan = plans.explain_str(served)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1)

    # index-free reference in numpy: assign the full corpus to the frozen
    # centroids, keep the query's IVF_NPROBE nearest lists, score exactly
    # (6dp-rounded cosine; ties to the lowest cid / vec_id)
    def cos(A, b):
        return np.round((A @ b) / (np.linalg.norm(A, axis=1) * np.linalg.norm(b)), 6)

    rows = (
        tables.load(spark, SF_SMOKE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "label", "embedding")
        .collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    lists = [int(np.argmax(cos(C, x))) for x in X]
    q_vec = S.query_vector(spark, SF_SMOKE)
    probe = sorted(np.argsort(-cos(C, q_vec), kind="stable")[: S.IVF_NPROBE].tolist())
    sims = cos(X, q_vec)
    best = sorted(
        (-sims[i], r.vec_id, i)
        for i, r in enumerate(rows)
        if lists[i] in probe and r.vec_id != S.QUERY_VEC_ID
    )[: S.TOPK]
    want = [
        (rank, rows[i].vec_id, rows[i].label, float(sims[i]))
        for rank, (_, _, i) in enumerate(best, start=1)
    ]
    assert sorted(map(tuple, served.collect())) == want

    # at least one arriving vector sits in the probed partitions
    probed = layouts.read_partitions(spark, path, "ivf_list", probe).select(
        "vec_id", split_assignment("vec_id").alias("s")
    )
    assert probed.where(F.col("s") == "test").count() > 0


def test_ann_index_refresh_manifest_invariants(spark):
    """Per-list bookkeeping: standing + added = total per list; totals
    reconcile with the corpus split sizes; list ids live in [0, NLIST)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )

    rows = S.ext_ann_index_refresh(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_standing + r.n_added == r.n_total
        assert 0 <= r.ivf_list < S.IVF_NLIST

    emb = tables.load(spark, SF_SMOKE, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    splits = {
        r.s: r.n
        for r in emb.select(split_assignment("vec_id").alias("s"))
        .groupBy("s")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert sum(r.n_standing for r in rows) == splits.get("train", 0) + splits.get("val", 0)
    assert sum(r.n_added for r in rows) == splits.get("test", 0)


def test_ann_index_refresh_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import similarity as S
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, S.ext_ann_index_refresh, S.ext_ann_index_refresh_oracle()
    )


def test_compact_layout_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between compact_layout's two swap renames leaves the path
    missing with the parked original beside it — re-entering the
    compaction must restore the original and complete, with no rows lost."""
    import os
    import shutil

    path = str(tmp_path / "lay")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "vec_id long, ivf_list int"
    )
    df.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))

    # simulate the mid-swap crash state: original parked, path gone,
    # half-finished tmp lying around
    os.rename(path, path + "._compact_old")
    os.makedirs(path + "._compact_tmp")

    n = layouts.compact_layout(spark, path)
    assert n >= 1
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == want
    assert not os.path.exists(path + "._compact_old")
    shutil.rmtree(path + "._compact_tmp", ignore_errors=True)
