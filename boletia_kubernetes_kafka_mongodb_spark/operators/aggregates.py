"""Aggregations — SURVEY.md §2.5 (A1-A2).

The reference has exactly one aggregate semantic: the per-event availability
counter, maintained incrementally one document at a time
(``reservas/main.go:153`` decrement, ``inventario/main.go:118`` restitution).
Batch-equivalently that is a keyed ledger sum. Catalyst compiles both to
partial (map-side) + final hash aggregation — the shuffle moves at most one
row per (group key, partition), which is what keeps this viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..oracle import with_domain


def agg_running_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the per-event capacity ledger.

    Every reservation ever admitted decremented the counter once (−cantidad);
    user cancels (estado X) restored it (+cantidad); organizer cascades
    (estado C) never restore (``README.md:503``). Net change per event is
    therefore −Σ cantidad over estados {A, C}; X rows net to zero.
    """
    # Pre-aggregate on the raw long key: the shuffle carries (l_partkey,
    # 3 longs) instead of ~20-byte label strings, the estado predicates
    # compile to l_returnflag comparisons readable straight off the scan,
    # and the evento label renders once per group, not once per row.
    # estado mapping (tables.reservas_keyed): N→A, R→X, else→C, so
    # {A,C} ⇔ returnflag ≠ 'R' and X ⇔ returnflag = 'R'.
    li = tables.load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("int")
    is_x = F.col("l_returnflag") == "R"
    return (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.when(~is_x, -qty).otherwise(0)).cast("long").alias("delta_capacidad"),
            F.sum(F.when(is_x, qty).otherwise(0)).cast("long").alias("restituido"),
            F.count(F.lit(1)).cast("long").alias("n_reservas"),
        )
        .select(
            tables.evento_label(F.col("l_partkey")).alias("evento"),
            "delta_capacidad",
            "restituido",
            "n_reservas",
        )
    )


def agg_running_capacity_oracle() -> str:
    return with_domain(
        """SELECT evento,
                  CAST(SUM(CASE WHEN estado IN ('A','C') THEN -cantidad ELSE 0 END) AS BIGINT) AS delta_capacidad,
                  CAST(SUM(CASE WHEN estado = 'X' THEN cantidad ELSE 0 END) AS BIGINT) AS restituido,
                  CAST(COUNT(*) AS BIGINT) AS n_reservas
           FROM reservas GROUP BY evento"""
    )


def agg_count_reservations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-(evento,email) reservation grouping — the read-side listing.

    Reference: the compound-index listing ``Find({evento, email}).All``
    (``reservas/main.go:92-109``) generalized over all clients, with the
    per-group totals the HTTP reply would render.
    """
    # Group on the raw long keys (l_partkey, l_suppkey) and render the
    # formatted string keys only on the aggregated output: the shuffle moves
    # 16-byte keys instead of ~40-byte strings and format_string runs once
    # per group, not once per row.
    li = tables.load(spark, sf_dir, "lineitem")
    estado = (
        F.when(F.col("l_returnflag") == "N", F.lit("A"))
        .when(F.col("l_returnflag") == "R", F.lit("X"))
        .otherwise(F.lit("C"))
    )
    grouped = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("int").alias("cantidad"),
            estado.alias("estado"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reservas"),
            F.sum("cantidad").cast("long").alias("total_entradas"),
            F.sum(F.when(F.col("estado") == "A", F.col("cantidad")).otherwise(0))
            .cast("long")
            .alias("entradas_activas"),
        )
    )
    return grouped.select(
        tables.evento_label(F.col("l_partkey")).alias("evento"),
        F.concat(F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")).alias("email"),
        "n_reservas",
        "total_entradas",
        "entradas_activas",
    )


def agg_count_reservations_oracle() -> str:
    return with_domain(
        """SELECT evento, email,
                  CAST(COUNT(*) AS BIGINT) AS n_reservas,
                  CAST(SUM(cantidad) AS BIGINT) AS total_entradas,
                  CAST(SUM(CASE WHEN estado = 'A' THEN cantidad ELSE 0 END) AS BIGINT) AS entradas_activas
           FROM reservas GROUP BY evento, email"""
    )


GAP_US = 1_800_000_000  # 30-minute session gap


def agg_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: event-time sessionization per user (30-min inactivity gap).

    ``session_window`` is Spark's native merging-window aggregate: one
    shuffle on ``user_id``, per-key sort, windows merge while the next event
    arrives at or before ``last + gap`` (the boundary is INCLUSIVE — pinned
    by test_sessionize_gap_boundary). Session end = last event + gap; the
    oracle reproduces it with gaps-and-islands: a new island only when the
    delta since the previous event exceeds the gap.

    Epochs are reported as microsecond longs — engine-portable, no
    timestamp rendering in the hash.
    """
    ev = tables.load(spark, sf_dir, "events")
    w = F.session_window(F.col("ts").cast("timestamp"), "30 minutes")
    return (
        ev.groupBy(F.col("user_id"), w.alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "value_sum",
        )
    )


def agg_sessionize_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS tus, value FROM events
        ),
        marked AS (
            SELECT *,
                   CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus)
                             > {GAP_US}
                          OR LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM e
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY tus
                ROWS UNBOUNDED PRECEDING
            ) AS sid
            FROM marked
        )
        SELECT user_id,
               MIN(tus)            AS session_start_us,
               MAX(tus) + {GAP_US} AS session_end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 4)     AS value_sum
        FROM sess
        GROUP BY user_id, sid
        """


QUANTILES = (0.5, 0.9, 0.99)


def agg_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact interpolated quantiles of ``value`` per event type.

    ``percentile`` (exact, linear interpolation — the same definition as
    DuckDB ``quantile_cont``) rather than ``approx_percentile``: the sketch
    is the scale path for one-pass global quantiles, but per-group exact
    percentiles over a groupable key are a sorted-aggregation Spark executes
    distributed per group; exactness keeps the result engine-checkable.
    Rounded to 4 decimals so IEEE summation-order noise can't flip the hash.
    """
    ev = tables.load(spark, sf_dir, "events")
    pcts = F.percentile("value", F.lit(list(QUANTILES)))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(pcts[0], 4).alias("p50"),
            F.round(pcts[1], 4).alias("p90"),
            F.round(pcts[2], 4).alias("p99"),
        )
    )


def agg_value_quantiles_oracle() -> str:
    return """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)            AS n,
               ROUND(quantile_cont(value, 0.5), 4)  AS p50,
               ROUND(quantile_cont(value, 0.9), 4)  AS p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99
        FROM events
        GROUP BY event_type
        """


SLIDE_US = 900_000_000   # 15-minute hop
LEN_US = 3_600_000_000   # 1-hour window


def agg_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: hopping event-time windows (1 h length, 15 min hop) per event
    type — each event lands in len/hop = 4 overlapping windows.

    Native ``window(ts, len, hop)`` is a Generate (per-row 4× replication)
    + hash aggregate: narrow until the final group shuffle, no range join.
    The oracle replicates each row over its covering window starts with
    ``unnest(list_transform(...))`` — same math, engine-portable epochs.
    """
    ev = tables.load(spark, sf_dir, "events")
    w = F.window(F.col("ts").cast("timestamp"), "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def agg_sliding_window_oracle() -> str:
    return f"""
        WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
        expanded AS (
            SELECT unnest(list_transform(range(0, {LEN_US // SLIDE_US}),
                          k -> (tus // {SLIDE_US} - k) * {SLIDE_US})) AS window_start_us,
                   event_type, value, tus
            FROM e
        )
        SELECT window_start_us, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 4)     AS value_sum
        FROM expanded
        WHERE tus >= window_start_us AND tus < window_start_us + {LEN_US}
        GROUP BY window_start_us, event_type
        """


def agg_rollup_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: ROLLUP over (categoria, estado) of the event catalog — per-group,
    per-category subtotal, and grand total in one pass (the multi-level
    dashboard aggregate the reference computes client-side, if at all).

    Spark expands rollup into grouping sets inside a single partial+final
    hash aggregate — one shuffle, not one job per level. NULL markers are
    disambiguated via ``grouping()`` flags (a real NULL group would
    otherwise collide with the subtotal row).
    """
    evs = tables.eventos_keyed(spark, sf_dir)
    return (
        evs.rollup("categoria", "estado")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("capacidad").cast("long").alias("capacidad_total"),
            F.grouping("categoria").cast("int").alias("g_cat"),
            F.grouping("estado").cast("int").alias("g_est"),
        )
    )


def agg_rollup_category_oracle() -> str:
    return with_domain(
        """
        SELECT categoria, estado,
               CAST(COUNT(*) AS BIGINT)       AS n,
               CAST(SUM(capacidad) AS BIGINT) AS capacidad_total,
               CAST(GROUPING(categoria) AS INTEGER) AS g_cat,
               CAST(GROUPING(estado) AS INTEGER)    AS g_est
        FROM eventos
        GROUP BY ROLLUP (categoria, estado)
        """
    )


def agg_pivot_estado(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: pivot the event catalog to one row per categoria with estado
    counts as columns (the wide dashboard shape).

    Explicit pivot values ("A", "C") matter at scale: without them Spark
    first runs a distinct-collect job on the pivot column to discover
    values driver-side. With them, pivot is a single partial+final
    aggregate — conditional counts, one shuffle. Absent combinations
    surface as NULL from pivot-count; coalesce to 0 to match SQL's
    ``COUNT(*) FILTER`` semantics.
    """
    evs = tables.eventos_keyed(spark, sf_dir)
    pivoted = (
        evs.groupBy("categoria")
        .pivot("estado", ["A", "C"])
        .agg(F.count(F.lit(1)).cast("long"))
    )
    return pivoted.select(
        "categoria",
        F.coalesce(F.col("A"), F.lit(0)).cast("long").alias("n_active"),
        F.coalesce(F.col("C"), F.lit(0)).cast("long").alias("n_cancelled"),
    )


def agg_pivot_estado_oracle() -> str:
    return with_domain(
        """
        SELECT categoria,
               CAST(COUNT(*) FILTER (WHERE estado = 'A') AS BIGINT) AS n_active,
               CAST(COUNT(*) FILTER (WHERE estado = 'C') AS BIGINT) AS n_cancelled
        FROM eventos
        GROUP BY categoria
        """
    )


def agg_unpivot_estado(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: unpivot (melt) the wide estado-count table back to long form —
    the inverse reshape of :func:`agg_pivot_estado`, closing the pair.

    ``unpivot`` is a pure narrow Expand (2 output rows per input, no
    shuffle beyond the pivot's own aggregate). Long form is what joins
    and group-bys want; wide is a presentation shape.
    """
    wide = agg_pivot_estado(spark, sf_dir)
    return wide.unpivot(
        ids=["categoria"],
        values=["n_active", "n_cancelled"],
        variableColumnName="measure",
        valueColumnName="n",
    )


def agg_unpivot_estado_oracle() -> str:
    return with_domain(
        """
        SELECT categoria, measure, n FROM (
            SELECT categoria,
                   'n_active' AS measure,
                   CAST(COUNT(*) FILTER (WHERE estado = 'A') AS BIGINT) AS n
            FROM eventos GROUP BY categoria
            UNION ALL
            SELECT categoria,
                   'n_cancelled' AS measure,
                   CAST(COUNT(*) FILTER (WHERE estado = 'C') AS BIGINT) AS n
            FROM eventos GROUP BY categoria
        )
        """
    )


def approx_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw HLL++ estimate per event type alongside the exact count —
    what a user reads; engine-private values, so NOT the registered
    driver surface (see ``ext_approx_distinct``)."""
    ev = tables.load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )


# HLL tolerance band for the hash-gated guarantee: 4× Spark's default
# rsd (0.05) — wide enough that BOTH engines' (different) HLL sketches
# sit inside it on any non-adversarial input, tight enough that a broken
# sketch implementation fails the gate. Stated as an integer multiple so
# the band compare is all-BIGINT (no float rounding to diverge on):
# |est − exact| · HLL_TOL_DEN ≤ exact  ⇔  |est/exact − 1| ≤ 1/HLL_TOL_DEN.
HLL_TOL_DEN = 5  # ε = 0.2
# Round 10 (round-9 ADVICE #3): the relative band alone makes the gate
# statistical on TINY groups — at exact=4 a 1-count sketch deviation
# (common: both engines are exact in sparse mode, but not guaranteed)
# crosses the band edge and flakes the cross-engine compare with no bug
# present. Floor the denominator: |est−exact|·5 ≤ max(exact, FLOOR)
# ⇔ |est−exact| ≤ max(exact/5, 2) — still all-BIGINT, still fails on a
# genuinely broken sketch (which is off by far more than 2 anywhere).
HLL_TOL_FLOOR = 10  # allows an absolute deviation of 2 on tiny groups


def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: HyperLogLog++ distinct-user guarantee audit per event type.

    The sketch IS the scale path: ``approx_count_distinct`` is a fixed-size
    (~few KB) mergeable sketch per group — partial aggregation combines
    map-side and the shuffle carries sketches, not user ids. The exact
    ``count_distinct`` on the same row shows the accuracy trade (its
    shuffle carries every distinct id — fine per-group here, prohibitive
    for a global distinct at 100 TB).

    Round 9 (closing the round-8 verdict's last ``no_oracle`` row): HLL++
    register values are engine-private, so the RAW estimate can never
    hash-match a DuckDB oracle — but the GUARANTEE can. The registered
    surface emits per group the exact count plus ``within_bound`` =
    |est − exact|·``HLL_TOL_DEN`` ≤ exact (an all-BIGINT ε = 0.2 band
    compare), computed in each engine from ITS OWN sketch against the
    SAME exact companion SQL — the driver now hash-gates that both
    engines' sketches honor the tolerance, even though the estimates
    differ. The raw estimate stays available via ``approx_distinct_raw``
    (bound asserted in tests), and the deterministic estimator family
    lives in ``ext_approx_distinct_kmv``.

    Round 10: the band denominator is floored at ``HLL_TOL_FLOOR`` so a
    1-2 count deviation on a tiny group cannot flake the gate.
    """
    est = F.approx_count_distinct("user_id").alias("est")
    ev = tables.load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        est, F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) * F.lit(HLL_TOL_DEN)
            <= F.greatest(F.col("exact_users"), F.lit(HLL_TOL_FLOOR))
        ).alias("within_bound"),
    )


def ext_approx_distinct_oracle() -> str:
    """DuckDB runs the same band compare on ITS OWN HLL estimate — the
    hash gates the guarantee, not the engine-private registers."""
    return f"""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               ABS(CAST(approx_count_distinct(user_id) AS BIGINT)
                   - CAST(COUNT(DISTINCT user_id) AS BIGINT)) * {HLL_TOL_DEN}
                   <= GREATEST(CAST(COUNT(DISTINCT user_id) AS BIGINT),
                               {HLL_TOL_FLOOR}) AS within_bound
        FROM events
        GROUP BY event_type
    """


def ext_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 companion: the exact distinct-user counts per event type, split
    out of ``ext_approx_distinct`` so the driver-checkable part has a SQL
    oracle (the HLL++ estimate column is engine-specific and stays
    rows-only). Same plan shape as the exact column there: partial
    aggregation on (event_type, user_id), then a count per group.
    """
    ev = tables.load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )


def ext_distinct_users_exact_oracle() -> str:
    return """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events
        GROUP BY event_type
    """


KMV_K = 64  # bottom-k sketch size: rel. error ≈ 1/sqrt(K-2) ≈ 12.7%
# (64 keeps the ESTIMATOR branch live from sf0.01 up — 150+ distinct
# users per group — while sf0.001 exercises the exact small-set branch)


def _kmv_sketches_from(ev: DataFrame) -> DataFrame:
    """(event_type, h) bottom-K sketch rows from any (event_type, user_id)
    frame — the testable core of `_kmv_sketches`.

    Plan (round-7, verdict #4): a MAP-SIDE BOUNDED bottom-K partial runs
    per input partition (Arrow-batched ``mapInPandas``, carrying at most
    T×K rows out of each partition), so the shuffle and the final
    per-group rank window see ≤ partitions×T×K rows — sketch cost stops
    tracking distinct cardinality (the previous formulation windowed ALL
    distinct hashes per group, the same shuffle class as exact distinct).
    Correctness of the partial is the KMV mergeability argument: a hash
    in the global bottom-K of the distinct set is, in every partition
    containing it, preceded by < K smaller distinct hashes — so it
    survives that partition's bottom-K and reaches the final window.
    The hash itself stays a native JVM expression; the pandas stage
    touches only (event_type, h) longs."""
    from pyspark.sql.window import Window

    u = F.col("user_id").cast("string")
    hi = F.conv(F.substring(F.md5(u), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(u), 9, 8), 16, 10).cast("long")
    hashes = ev.select(
        "event_type", F.shiftleft(hi, 32).bitwiseOR(lo).alias("h")
    )
    k = int(KMV_K)

    def _partial(batches):
        import numpy as np
        import pandas as pd

        best: dict = {}
        for pdf in batches:
            # dropna=False: the downstream window (and the DuckDB oracle)
            # treat NULL event_type as a group — the kernel must too
            for t, grp in pdf.groupby("event_type", sort=False, dropna=False):
                t = None if pd.isna(t) else t
                arr = np.unique(grp["h"].to_numpy())[:k]
                prev = best.get(t)
                if prev is not None:
                    arr = np.unique(np.concatenate([prev, arr]))[:k]
                best[t] = arr
        for t, arr in best.items():
            yield pd.DataFrame(
                {"event_type": pd.Series([t] * len(arr), dtype=object), "h": arr}
            )

    part = hashes.mapInPandas(_partial, "event_type string, h long")
    # ≤ partitions×T×K survivors: distinct (duplicates recur across
    # partitions) then the exact per-group bottom-K
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        part.distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
        .select("event_type", "h")
    )


def _kmv_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h): the bottom-K distinct md5-derived signed-64 user
    hashes per event type — the shared KMV sketch frame behind both the
    per-group estimate (`ext_approx_distinct_kmv`) and the set-algebra
    operator (`ext_kmv_set_ops`). One corpus scan, a bounded
    per-partition bottom-K partial, then the exact per-group bottom-K
    window over ≤ partitions×T×K survivors."""
    return _kmv_sketches_from(tables.load(spark, sf_dir, "events"))


def _kmv_u(col: str):
    """Signed-64 hash → unsigned position in (0,1], IEEE-identical on both
    engines (int64→double and each double op are IEEE-defined)."""
    return (
        F.col(col).cast("double") + F.lit(9223372036854775808.0) + F.lit(1.0)
    ) / F.lit(18446744073709551616.0)


def ext_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 deterministic companion (round-5 verdict #5): KMV / bottom-k
    distinct-user estimate per event type — the oracle-checkable
    approximate path next to the engine-native HLL of
    ``ext_approx_distinct``.

    KMV (Bar-Yossef et al. 2002): hash every value into (0,1]; keep the K
    smallest DISTINCT hashes per group; if fewer than K exist the sketch
    holds the whole distinct set (estimate = its size, exact), else the
    K-th smallest hash u_K estimates density and distinct ≈ (K-1)/u_K.
    Hashes are md5-derived signed-64 (`md5_hash64` pattern), so — unlike
    HLL registers — every intermediate is engine-independent and DuckDB
    replays the identical sketch, making this the one *hash-gated*
    approximate-distinct id.

    Plan shape (round-7): a bounded per-partition bottom-K partial
    (`_kmv_sketches_from`) carries ≤ partitions×T×K rows into the
    shuffle, then the exact per-group bottom-K window runs over that
    constant-bounded frame — sketch cost no longer tracks distinct
    cardinality, which is precisely the mergeability property the KMV
    literature trades on. What KMV buys over the engine-native HLL: a
    mergeable sketch whose every bit is auditable cross-engine.
    """
    bot = _kmv_sketches(spark, sf_dir)
    # signed h → unsigned position in (0,1]: u = (h + 2^63 + 1) / 2^64,
    # computed in double on BOTH engines (`_kmv_u`)
    u_k = _kmv_u("h_k")
    est = F.when(
        F.col("sketch_k") < KMV_K, F.col("sketch_k").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) / u_k)
    return (
        bot.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sketch_k"),
            F.max("h").alias("h_k"),
        )
        .select("event_type", "sketch_k", F.round(est, 6).alias("kmv_users"))
    )


def _kmv_sketch_ctes() -> str:
    """Shared DuckDB CTE chain re-deriving `_kmv_sketches` exactly: the
    md5-derived signed-64 hash, the distinct, and the bottom-K window."""
    h64 = (
        "(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) >= 2147483648 "
        "THEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) - 4294967296 "
        "ELSE CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) END) * 4294967296 "
        "+ CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT)"
    )
    return f"""hs AS (
            SELECT DISTINCT event_type, {h64} AS h FROM events
        ),
        rk AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
            FROM hs
        ),
        bot AS (SELECT event_type, h FROM rk WHERE rk <= {KMV_K})"""


def ext_approx_distinct_kmv_oracle() -> str:
    """DuckDB replay of the identical KMV sketch: same md5-derived signed-64
    hash, same bottom-K window, same (h + 2^63 + 1)/2^64 normalization in
    double — every intermediate engine-independent."""
    k = KMV_K
    return f"""
        WITH {_kmv_sketch_ctes()}
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS sketch_k,
               ROUND(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                          ELSE {k - 1}.0 / ((CAST(MAX(h) AS DOUBLE)
                                             + 9223372036854775808.0 + 1.0)
                                            / 18446744073709551616.0)
                     END, 6) AS kmv_users
        FROM bot GROUP BY event_type
    """


def ext_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA: distinct-user estimates for the UNION and
    INTERSECTION of every event-type pair, computed purely from the
    per-type bottom-K sketches — the corpus is scanned exactly once.

    This is the property that makes KMV the 100 TB shape for audience-
    overlap questions: sketches are *mergeable* (bottom-K of A∪B = bottom-K
    of S_A ∪ S_B, Bar-Yossef et al. 2002 / Beyer et al. 2007), so T types
    over any corpus reduce to T×K rows before the pairwise stage — the
    per-pair work is corpus-size-independent, and the same T×K frame would
    serve (T choose 2) pairs at any T. Intersection uses the standard
    ρ-estimator: ρ = |{h ∈ bottomK(A∪B) : h ∈ S_A ∧ h ∈ S_B}| / K and
    |A∩B| ≈ ρ·|A∪B|. When |A∪B| < K both sketches are their full sets and
    both estimates are EXACT (the small-set branch).

    Every intermediate is engine-independent (md5 hashes, integer
    windows, IEEE-double normalization — the `ext_approx_distinct_kmv`
    recipe), so this approximate operator carries a full value-hash
    oracle. Columns: per (type_a < type_b) pair, the union-sketch fill
    k_union, the intersection evidence count inter_k, and the two rounded
    estimates.
    """
    # the pair algebra fans the sketch frame into THREE plan subtrees
    # (distinct types + both membership joins); without a checkpoint the
    # scan→distinct→bottom-K subtree executes once per reference — the
    # `_minhash_candidates` re-execution trap (round-6 ADVICE). The frame
    # is T×K rows, so materializing it is free.
    return kmv_set_ops_from_sketches(
        _kmv_sketches(spark, sf_dir).localCheckpoint(eager=True)
    )


def kmv_set_ops_from_sketches(sk: DataFrame) -> DataFrame:
    """The sketch-merge algebra over any (event_type, h) bottom-K frame —
    factored so tests can drive crafted overlap structures through it."""
    t = sk.select("event_type").distinct()
    prs = (
        t.select(F.col("event_type").alias("type_a"))
        .join(
            t.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # membership rows: each pair pulls both sketches via two equi-joins
    # (no OR-join → no nested-loop); prs is T²-sized, always broadcast
    ma = prs.join(
        sk.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(True).alias("in_a"), F.lit(False).alias("in_b"))
    mb = prs.join(
        sk.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(False).alias("in_a"), F.lit(True).alias("in_b"))
    g = (
        ma.unionByName(mb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("ia"), F.max("in_b").alias("ib"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    u = g.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= KMV_K)
    agg = u.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("k_union"),
        F.max("h").alias("h_k"),
        F.sum((F.col("ia") & F.col("ib")).cast("long")).cast("long").alias("inter_k"),
    )
    est_union = F.round(
        F.when(F.col("k_union") < KMV_K, F.col("k_union").cast("double")).otherwise(
            F.lit(float(KMV_K - 1)) / _kmv_u("h_k")
        ),
        6,
    )
    out = agg.withColumn("est_union", est_union)
    est_inter = F.round(
        (F.col("inter_k").cast("double") / F.col("k_union").cast("double"))
        * F.col("est_union"),
        6,
    )
    return out.select(
        "type_a", "type_b", "k_union", "inter_k", "est_union",
        est_inter.alias("est_intersection"),
    )


def ext_kmv_set_ops_oracle() -> str:
    """DuckDB replay of the sketch-merge algebra on the identical per-type
    bottom-K sketches; the ρ-estimator multiplies the PRE-ROUNDED union
    estimate, mirroring the Spark expression tree exactly."""
    k = KMV_K
    return f"""
        WITH {_kmv_sketch_ctes()},
        tp AS (SELECT DISTINCT event_type FROM bot),
        prs AS (
            SELECT x.event_type AS type_a, y.event_type AS type_b
            FROM tp x JOIN tp y ON x.event_type < y.event_type
        ),
        m AS (
            SELECT p.type_a, p.type_b, s.h,
                   s.event_type = p.type_a AS in_a,
                   s.event_type = p.type_b AS in_b
            FROM prs p
            JOIN bot s ON s.event_type = p.type_a OR s.event_type = p.type_b
        ),
        g AS (
            SELECT type_a, type_b, h, MAX(in_a) AS ia, MAX(in_b) AS ib
            FROM m GROUP BY type_a, type_b, h
        ),
        u AS (
            SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
            FROM g
        ),
        agg AS (
            SELECT type_a, type_b,
                   CAST(COUNT(*) AS BIGINT) AS k_union,
                   MAX(h) AS h_k,
                   CAST(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
            FROM u WHERE rk <= {k}
            GROUP BY type_a, type_b
        ),
        est AS (
            SELECT type_a, type_b, k_union, inter_k,
                   ROUND(CASE WHEN k_union < {k} THEN CAST(k_union AS DOUBLE)
                              ELSE {k - 1}.0 / ((CAST(h_k AS DOUBLE)
                                                 + 9223372036854775808.0 + 1.0)
                                                / 18446744073709551616.0)
                         END, 6) AS est_union
            FROM agg
        )
        SELECT type_a, type_b, k_union, inter_k, est_union,
               ROUND((CAST(inter_k AS DOUBLE) / CAST(k_union AS DOUBLE))
                     * est_union, 6) AS est_intersection
        FROM est
    """


# ---------------------------------------------------------------------------
# mergeable quantile sketch (round 8): deterministic bottom-K row sample
# ---------------------------------------------------------------------------

QSK_K = 512  # per-group sample size: rank error ~ 1/sqrt(K) ≈ 4.4%


def _qsketch_rows_from(ev: DataFrame) -> DataFrame:
    """(event_type, value) — the bottom-``QSK_K`` rows per group by
    md5-derived row hash: a deterministic uniform-without-replacement
    row sample, which is a MERGEABLE quantile sketch (the fixed-level
    sampled family; cf. KLL, Karnin/Lang/Liberty 2016 — the md5 hash
    plays the role KLL's coin flips play, made deterministic so the
    whole construction replays in SQL).

    Mergeability is the bottom-K argument over ROWS instead of distinct
    hashes: rows are unique by ``event_id``, bottom-K of a union is the
    bottom-K of the parts' bottom-Ks, so a bounded per-partition partial
    (Arrow ``mapInPandas``, ≤ T×K rows leave each partition — the
    `_kmv_sketches_from` plan) feeds an exact per-group bottom-K window
    over ≤ partitions×T×K survivors. Sketch cost never tracks group
    cardinality — the 100 TB path for percentile queries whose exact
    form (`agg_value_quantiles`) needs the full group in one sorted
    aggregation. Full determinism: the sample is ordered by
    (h, event_id, value), every key engine-independent."""
    return _qsk_bottomk(_qsk_partials(ev)).select("event_type", "value")


def _qsk_partials(ev: DataFrame) -> DataFrame:
    """(event_type, h, event_id, value) bounded per-partition bottom-K
    partial sketches — ≤ T×K rows leave each partition; the hash stays a
    native JVM expression, only the bounded partial is Arrow-batched."""
    u = F.col("event_id").cast("string")
    hi = F.conv(F.substring(F.md5(u), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(u), 9, 8), 16, 10).cast("long")
    rows = ev.select(
        "event_type",
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("h"),
        "event_id",
        "value",
    )
    k = int(QSK_K)

    def _partial(batches):
        import pandas as pd

        best: dict = {}
        for pdf in batches:
            # dropna=False: the merge window (and the DuckDB oracle's
            # row_number partition) keep NULL event_type as a group
            for t, grp in pdf.groupby("event_type", sort=False, dropna=False):
                t = None if pd.isna(t) else t
                g = grp[["h", "event_id", "value"]]
                prev = best.get(t)
                if prev is not None:
                    g = pd.concat([prev, g])
                best[t] = g.sort_values(["h", "event_id", "value"]).head(k)
        for t, g in best.items():
            out = g.copy()
            out.insert(0, "event_type", pd.Series([t] * len(g), dtype=object, index=g.index))
            yield out

    return rows.mapInPandas(
        _partial, "event_type string, h long, event_id long, value double"
    )


def _qsk_bottomk(keyed: DataFrame) -> DataFrame:
    """Exact per-group bottom-K over any (event_type, h, event_id, value)
    frame, KEYS RETAINED — the merge step of the mergeable sketch
    (bottom-K of a union of sketches = the union's sketch)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("h", "event_id", "value")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= QSK_K)
        .select("event_type", "h", "event_id", "value")
    )


def ext_approx_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group percentiles from the mergeable bottom-K row
    sample — the sketch companion to the exact ``agg_value_quantiles``
    (round-7 verdict #3: the missing member of the sketch family next to
    KMV distinct, HLL, and Misra–Gries).

    Estimator: the same interpolated percentile the exact id uses,
    applied to the ≤ K sampled values per group. Sample ranks
    concentrate around true ranks (DKW: sup-CDF error ≤
    sqrt(ln(2/δ)/(2K)) w.p. 1−δ — ~6% at K=512, δ=0.01), pinned against
    the exact id by the rank-error test. When a group has fewer than K
    rows the sketch holds the whole group and the estimate is EXACT.

    Cross-engine: the sample is engine-deterministic (md5 row hashes),
    and both engines state the same linear-interpolation percentile
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) over the same ≤ K
    doubles — already hash-gate-proven by the exact id — so this
    approximate operator carries a full value-hash oracle.
    """
    bot = _qsketch_rows_from(tables.load(spark, sf_dir, "events"))
    pcts = F.percentile("value", F.lit(list(QUANTILES)))
    return bot.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("sketch_k"),
        F.round(pcts[0], 4).alias("p50"),
        F.round(pcts[1], 4).alias("p90"),
        F.round(pcts[2], 4).alias("p99"),
    )


QSK_BATCH_MOD = 10  # event_id % 10 == 0 → the arriving batch (the
# `ext_dedup_incremental` standing-vs-new convention, on the events key)


def ext_approx_quantiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (nightly-ingest) percentile update — the mergeability
    payoff as a first-class operation: the STANDING corpus's bottom-K
    sketch absorbs the arriving batch's bounded partials and serves
    updated percentiles, plus the per-group shift each percentile took —
    the monitoring reading next to `ext_quality_psi`'s distribution
    drift (PSI watches a score histogram; this watches the value tails).

    This is the shape a 100 TB pipeline actually runs daily: the
    standing side is the PERSISTED T×K sketch (here re-derived from the
    standing slice — the batch stand-in, as in `ext_dedup_incremental`),
    so only the arriving batch is scanned per run; merging is bottom-K
    of a union of two T×K frames (sketch ∪ sketch = sketch of the
    union — exact, not approximate-on-approximate, the Bar-Yossef
    mergeability argument over rows). Pinned by the merged ≡
    whole-corpus-sketch equality test.

    Output per event type: merged sketch fill, the UPDATED p50/p90/p99,
    and each percentile's shift vs the standing-only sketch (4dp values,
    exact-rounded subtraction — deterministic cross-engine; a type with
    no standing rows surfaces NULL shifts, never vanishes).
    """
    return quantiles_incremental_from(tables.load(spark, sf_dir, "events"))


def quantiles_incremental_from(ev: DataFrame) -> DataFrame:
    """The standing/batch split + sketch-merge + shift report over any
    events-shaped frame — the testable core (crafted batch-only-type and
    merge-equality fixtures drive this)."""
    is_batch = F.pmod("event_id", F.lit(QSK_BATCH_MOD)) == 0
    sk_standing = _qsk_bottomk(_qsk_partials(ev.where(~is_batch)))
    sk_batch = _qsk_bottomk(_qsk_partials(ev.where(is_batch)))
    merged = _qsk_bottomk(sk_standing.unionByName(sk_batch))
    pcts = F.percentile("value", F.lit(list(QUANTILES)))

    def stats(frame, prefix):
        return frame.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias(f"{prefix}k"),
            F.round(pcts[0], 4).alias(f"{prefix}p50"),
            F.round(pcts[1], 4).alias(f"{prefix}p90"),
            F.round(pcts[2], 4).alias(f"{prefix}p99"),
        )

    m = stats(merged, "")
    s = stats(sk_standing, "s_")
    shift = lambda c: F.round(F.col(c) - F.col(f"s_{c}"), 4).alias(f"{c}_shift")
    return m.join(s, "event_type", "left").select(
        "event_type",
        F.col("k").alias("sketch_k"),
        "p50", "p90", "p99",
        shift("p50"), shift("p90"), shift("p99"),
    )


def ext_approx_quantiles_incremental_oracle() -> str:
    """The sketch CTE program three times (standing, batch, merged union)
    under one WITH — same hash, same windows, same interpolated
    quantiles, same exact-rounded 4dp shifts."""
    h64 = (
        "(CASE WHEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) >= 2147483648 "
        "THEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) - 4294967296 "
        "ELSE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) END) * 4294967296 "
        "+ CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 9, 8)) AS BIGINT)"
    )
    bk = f"""SELECT event_type, h, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY h, event_id, value) AS rk
            FROM {{src}}
        ) WHERE rk <= {QSK_K}"""
    agg = """SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS {p}k,
               ROUND(quantile_cont(value, 0.5), 4)  AS {p}p50,
               ROUND(quantile_cont(value, 0.9), 4)  AS {p}p90,
               ROUND(quantile_cont(value, 0.99), 4) AS {p}p99
        FROM {src} GROUP BY event_type"""
    return f"""
        WITH qh AS (
            SELECT event_type, {h64} AS h, event_id, value FROM events
        ),
        sk_s AS ({bk.format(src=f"(SELECT * FROM qh WHERE event_id % {QSK_BATCH_MOD} <> 0)")}),
        sk_b AS ({bk.format(src=f"(SELECT * FROM qh WHERE event_id % {QSK_BATCH_MOD} = 0)")}),
        mg AS ({bk.format(src="(SELECT * FROM sk_s UNION ALL SELECT * FROM sk_b)")}),
        ma AS ({agg.format(p="", src="mg")}),
        sa AS ({agg.format(p="s_", src="sk_s")})
        SELECT ma.event_type,
               ma.k AS sketch_k,
               ma.p50, ma.p90, ma.p99,
               ROUND(ma.p50 - sa.s_p50, 4) AS p50_shift,
               ROUND(ma.p90 - sa.s_p90, 4) AS p90_shift,
               ROUND(ma.p99 - sa.s_p99, 4) AS p99_shift
        FROM ma LEFT JOIN sa ON sa.event_type = ma.event_type
    """


def ext_approx_quantiles_sketch_oracle() -> str:
    """DuckDB replay of the identical sketch: same md5-derived signed-64
    row hash, same (h, event_id, value) bottom-K window, same
    interpolated quantiles over the sampled values."""
    h64 = (
        "(CASE WHEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) >= 2147483648 "
        "THEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) - 4294967296 "
        "ELSE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) END) * 4294967296 "
        "+ CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 9, 8)) AS BIGINT)"
    )
    return f"""
        WITH qh AS (
            SELECT event_type, {h64} AS h, event_id, value FROM events
        ),
        qrk AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, event_id, value) AS rk
            FROM qh
        ),
        qbot AS (SELECT event_type, value FROM qrk WHERE rk <= {QSK_K})
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)             AS sketch_k,
               ROUND(quantile_cont(value, 0.5), 4)  AS p50,
               ROUND(quantile_cont(value, 0.9), 4)  AS p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99
        FROM qbot GROUP BY event_type
    """


# ---------------------------------------------------------------------------
# event analytics: ordered funnel and retention cohorts (§2.9 extensions)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def agg_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase over ``events``:
    a user reaches stage k iff events of the prescribed types exist in
    strictly increasing time order. The product-analytics staple the
    reference's ticketing flow implies (browse → reserve → confirm) but
    never aggregates.

    ORDER matters — a click before any view must not count — so this is a
    sequential-containment query, not three filters. Plan: ONE shuffle on
    ``user_id`` + one sort carries all three stages: a running
    earlier-rows-only window min marks each event with the earliest
    qualifying previous-stage time, chained per stage over the same
    partitioning (Catalyst fuses the three Window nodes onto one exchange).
    The final stage-count agg reads 3 booleans per user.
    """
    from pyspark.sql.window import Window

    ev = tables.load(spark, sf_dir, "events", fan=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1, s2, s3 = FUNNEL_STAGES
    # qualifying time of the previous stage, strictly before this row
    view_before = F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
    staged = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "q_click_ts",
        F.when(
            (F.col("event_type") == s2) & view_before.isNotNull(), F.col("ts")
        ),
    )
    click_before = F.min("q_click_ts").over(w)
    staged = staged.withColumn(
        "q_purchase",
        (F.col("event_type") == s3) & click_before.isNotNull(),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max((F.col("event_type") == s1).cast("int")).alias("r1"),
        F.max((F.col("q_click_ts").isNotNull()).cast("int")).alias("r2"),
        F.max(F.col("q_purchase").cast("int")).alias("r3"),
    )
    totals = per_user.agg(
        F.sum("r1").alias("n1"), F.sum("r2").alias("n2"), F.sum("r3").alias("n3")
    )
    # 3 output rows: unpivot the stage counts with conversion from stage 1
    stages = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("stage"),
                        F.lit(name).alias("event_type"),
                        F.col(f"n{i + 1}").cast("long").alias("n_users"),
                    )
                    for i, name in enumerate(FUNNEL_STAGES)
                ]
            )
        ).alias("s"),
        F.col("n1").cast("double").alias("base"),
    )
    return stages.select(
        F.col("s.stage").alias("stage"),
        F.col("s.event_type").alias("event_type"),
        F.col("s.n_users").alias("n_users"),
        # base = 0 (no stage-1 events at all): NULL, matching the oracle's
        # n/0.0 → NULL instead of an ANSI divide-by-zero throw
        F.round(
            F.when(F.col("base") > 0, F.col("s.n_users") / F.col("base")), 6
        ).alias("conversion"),
    )


def agg_funnel_stages_oracle() -> str:
    s1, s2, s3 = FUNNEL_STAGES
    return f"""
        WITH staged AS (
            SELECT user_id, ts, event_id, event_type,
                   MIN(CASE WHEN event_type = '{s1}' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS view_before
            FROM events
        ),
        staged2 AS (
            SELECT *,
                   CASE WHEN event_type = '{s2}' AND view_before IS NOT NULL
                        THEN ts END AS q_click_ts
            FROM staged
        ),
        staged3 AS (
            SELECT *,
                   MIN(q_click_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS click_before
            FROM staged2
        ),
        per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = '{s1}' THEN 1 ELSE 0 END) AS r1,
                   MAX(CASE WHEN q_click_ts IS NOT NULL THEN 1 ELSE 0 END) AS r2,
                   MAX(CASE WHEN event_type = '{s3}' AND click_before IS NOT NULL
                            THEN 1 ELSE 0 END) AS r3
            FROM staged3
            GROUP BY user_id
        ),
        totals AS (SELECT SUM(r1) n1, SUM(r2) n2, SUM(r3) n3 FROM per_user)
        SELECT 1 AS stage, '{s1}' AS event_type, CAST(n1 AS BIGINT) AS n_users,
               ROUND(n1 / CAST(n1 AS DOUBLE), 6) AS conversion FROM totals
        UNION ALL
        SELECT 2, '{s2}', CAST(n2 AS BIGINT),
               ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM totals
        UNION ALL
        SELECT 3, '{s3}', CAST(n3 AS BIGINT),
               ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM totals
    """


def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over ``events``: users grouped by
    first-activity week, activity tracked per week offset — the other
    product-analytics staple. Week 0 retention is 1.0 by construction.

    Plan (optimization round 13, guide §2.3/§2.4): ONE events pass reduces
    to the distinct ``(user_id, week)`` frame (a map-side-combining
    aggregate of narrow keys); the per-user first week is a ``min`` window
    over that deduped frame — no second events scan, no join back, and the
    (cohort, offset) count is a PLAIN count, because each (user, week) row
    maps to exactly one (cohort_week, week_offset): within a user, cohort
    is fixed and distinct weeks give distinct offsets, so per-(cohort,
    offset) distinct users ≡ rows of the deduped frame. ``date_trunc`` is
    monotone, so min(trunc(ts)) ≡ trunc(min(ts)) — cohorts unchanged. The
    old shape scanned events twice, co-shuffled the full event rows with
    the per-user frame, and paid a count_distinct expansion; this one
    shuffles deduped (user, week) pairs only. The cohort-size denominator
    still comes from a window over the AGGREGATED frame (≤ cohorts×offsets
    rows), not a second pass.
    """
    from pyspark.sql.window import Window

    ev = tables.load(spark, sf_dir, "events", fan=True)
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    act = (
        uw.withColumn(
            "cohort_week", F.min("wk").over(Window.partitionBy("user_id"))
        )
        .select(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    w = Window.partitionBy("cohort_week")
    return act.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(
            F.col("n_active")
            / F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w),
            6,
        ).alias("retention"),
    )


def agg_retention_cohorts_oracle() -> str:
    return """
        WITH first AS (
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT f.cohort_week,
                   CAST(datediff('day', f.cohort_week,
                                 CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INTEGER)
                       AS week_offset,
                   CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
            FROM events e JOIN first f USING (user_id)
            GROUP BY 1, 2
        )
        SELECT cohort_week, week_offset, n_active,
               ROUND(n_active / CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
                                     OVER (PARTITION BY cohort_week) AS DOUBLE), 6)
                   AS retention
        FROM act
    """


HIST_N_BUCKETS = 20


def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the event ``value`` measure — the profiling
    primitive behind every dashboard distribution panel. Bucket width
    derives from the observed [min, max] in one aggregation pass; the
    per-row bucket assignment is then a narrow map and the final count is
    one partial+final agg on ≤ HIST_N_BUCKETS keys. Two passes over the
    scan, O(buckets) driver state, no sort.

    The max value lands in the last bucket (half-open buckets with the
    terminal edge closed). The assignment is the explicit
    ``least(N, floor((v−lo)/w)+1)`` formula — not each engine's
    ``width_bucket`` builtin — so both sides run the identical double
    arithmetic and edge rows can't flip buckets cross-engine.
    """
    ev = tables.load(spark, sf_dir, "events", fan=True)
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    w = (F.col("hi") - F.col("lo")) / HIST_N_BUCKETS
    # degenerate range (all values equal / one row): w = 0 would divide by
    # zero under ANSI while the oracle NULLs through — define bucket 1
    # explicitly on BOTH engines instead
    b = F.when(
        w > 0,
        F.least(
            F.lit(HIST_N_BUCKETS),
            (F.floor((F.col("value") - F.col("lo")) / w) + 1).cast("int"),
        ),
    ).otherwise(F.lit(1))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(b.alias("bucket"), "lo", "hi", "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("lo") + (F.col("bucket") - 1) * F.min(w), 6).alias(
                "bucket_lo"
            ),
            F.round(F.min("lo") + F.col("bucket") * F.min(w), 6).alias("bucket_hi"),
        )
        .select("bucket", "bucket_lo", "bucket_hi", "n")
    )


def agg_value_histogram_oracle() -> str:
    return f"""
        WITH bounds AS (SELECT MIN(value) lo, MAX(value) hi FROM events),
        assigned AS (
            SELECT CASE WHEN (hi - lo) / {HIST_N_BUCKETS} > 0
                        THEN LEAST({HIST_N_BUCKETS},
                                   CAST(FLOOR((value - lo) / ((hi - lo) / {HIST_N_BUCKETS}))
                                        AS INTEGER) + 1)
                        ELSE 1 END AS bucket,
                   lo, (hi - lo) / {HIST_N_BUCKETS} AS w
            FROM events, bounds
        )
        SELECT bucket,
               ROUND(MIN(lo) + (bucket - 1) * MIN(w), 6) AS bucket_lo,
               ROUND(MIN(lo) + bucket * MIN(w), 6) AS bucket_hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned
        GROUP BY bucket
    """


ZSCORE_THRESHOLD = 2.0


def agg_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection per event type: z-score of each day's
    event count against that type's own daily mean/stddev, flagging |z| > 2
    — the monitoring primitive behind every "traffic looks weird" alert.

    Plan: one (event_type, day) aggregation over the scan; the per-type
    mean/stddev then run as windows over the AGGREGATED frame (types × days
    rows, thousands not billions), so the statistics cost nothing extra at
    100 TB. Sample stddev (n−1) on both engines; zero-variance series
    produce NULL z (no division blow-up) and are never flagged.
    """
    from pyspark.sql.window import Window

    ev = tables.load(spark, sf_dir, "events", fan=True)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type")
    mean, std = F.avg("n").over(w), F.stddev_samp("n").over(w)
    z = F.when(std > 0, (F.col("n") - mean) / std)
    return daily.select(
        "event_type",
        "day",
        "n",
        F.round(z, 6).alias("zscore"),
        F.coalesce(F.abs(z) > ZSCORE_THRESHOLD, F.lit(False)).alias("is_anomaly"),
    )


def agg_anomaly_zscore_oracle() -> str:
    return f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, n,
               ROUND(CASE WHEN stddev_samp(n) OVER (PARTITION BY event_type) > 0
                          THEN (n - AVG(n) OVER (PARTITION BY event_type))
                               / stddev_samp(n) OVER (PARTITION BY event_type)
                     END, 6) AS zscore,
               COALESCE(ABS(CASE WHEN stddev_samp(n) OVER (PARTITION BY event_type) > 0
                                 THEN (n - AVG(n) OVER (PARTITION BY event_type))
                                      / stddev_samp(n) OVER (PARTITION BY event_type)
                            END) > {ZSCORE_THRESHOLD}, FALSE) AS is_anomaly
        FROM daily
    """


def ext_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence with lift and PMI over user baskets — the
    "users who did X also did Y" association primitive (market-basket /
    collaborative filtering's counting stage).

    Plan: ONE distinct pass collapses events to (user_id, event_type) —
    at most |types| rows per user — then a self-join on user_id with
    ``a < b`` emits each unordered pair once; per-user fan-out is bounded
    by C(|types|, 2), not by event volume, so the join output is
    |users| × O(types²) no matter how many raw events exist. (For
    unbounded item catalogs the standard guard is a per-user top-N item
    cap before pairing; with a fixed event-type vocabulary it is not
    needed.) Type supports and the user total come from the same distinct
    frame and broadcast back. lift = N·c_ab/(c_a·c_b), pmi = ln(lift).
    """
    ev = tables.load(spark, sf_dir, "events", fan=True)
    # materialize ONCE: four consumers (supports, n_users, both self-join
    # branches) would each re-run the scan+distinct — no CSE across join
    # children (the BM25/bigram/bloom lesson)
    baskets = ev.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    supports = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("support")
    )
    n_users = baskets.select(
        F.count_distinct("user_id").cast("double").alias("n_users")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = supports.select(
        F.col("event_type").alias("type_a"), F.col("support").alias("support_a")
    )
    sb = supports.select(
        F.col("event_type").alias("type_b"), F.col("support").alias("support_b")
    )
    lift = (
        F.col("n_users")
        * F.col("n_both")
        / (F.col("support_a") * F.col("support_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(lift, 6).alias("lift"),
            F.round(F.log(lift), 6).alias("pmi"),
        )
    )


def ext_cooccurrence_oracle() -> str:
    return """
        WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
        supports AS (
            SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS support
            FROM baskets GROUP BY event_type
        ),
        n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users FROM baskets),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM baskets a JOIN baskets b USING (user_id)
            WHERE a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, n_both,
               ROUND(n.n_users * pairs.n_both / (sa.support * sb.support), 6) AS lift,
               ROUND(ln(n.n_users * pairs.n_both / (sa.support * sb.support)), 6) AS pmi
        FROM pairs
        JOIN supports sa ON sa.event_type = pairs.type_a
        JOIN supports sb ON sb.event_type = pairs.type_b
        CROSS JOIN n
    """


def agg_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly P50/P95/P99 bands of the event ``value`` measure per type —
    the observability panel every service dashboard draws. Exact
    interpolated percentiles (same estimator as `agg_value_quantiles` =
    DuckDB ``quantile_cont``) computed per (hour, type) group in ONE
    partial+final aggregation pass; the plan is a single shuffle on the
    composite key. NOTE on state: exact ``percentile``'s aggregation
    buffer holds every value of its group — O(group size), NOT bounded —
    which is fine while (hour, type) groups stay modest but risks executor
    memory on a hot group at 100 TB; the at-scale variant swaps in
    ``approx_percentile`` (fixed-size t-digest-style sketch, relaxed
    oracle) with no other plan change.
    """
    ev = tables.load(spark, sf_dir, "events", fan=True)
    bucket = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("long")
    # ONE percentile buffer per group (array form), not three — three
    # separate aggregates would each hold and sort the group's value map
    pcts = F.percentile("value", F.lit([0.5, 0.95, 0.99]))
    return (
        ev.groupBy(bucket.alias("hour_bucket"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pcts.alias("_p"),
        )
        .select(
            "hour_bucket",
            "event_type",
            "n",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p95"),
            F.round(F.col("_p")[2], 6).alias("p99"),
        )
    )


def agg_latency_bands_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of :func:`agg_latency_bands`: same plan, but
    ``approx_percentile`` (fixed-size quantile sketch — bounded aggregation
    state per group regardless of group size) instead of exact
    ``percentile`` (O(group size) buffer). Not a driver id — the sketch's
    answers are engine-specific; the proximity test in tests/test_windows.py
    pins it to the exact form instead."""
    ev = tables.load(spark, sf_dir, "events", fan=True)
    bucket = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("long")
    pcts = F.approx_percentile("value", F.lit([0.5, 0.95, 0.99]), F.lit(10_000))
    return (
        ev.groupBy(bucket.alias("hour_bucket"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pcts.alias("_p"),
        )
        .select(
            "hour_bucket",
            "event_type",
            "n",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p95"),
            F.round(F.col("_p")[2], 6).alias("p99"),
        )
    )


def agg_latency_bands_oracle() -> str:
    return """
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(quantile_cont(value, 0.5), 6) AS p50,
               ROUND(quantile_cont(value, 0.95), 6) AS p95,
               ROUND(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY 1, 2
    """


def agg_cube_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (source, lang) on the documents table — all four grouping
    sets ((source,lang), (source), (lang), ()) in ONE partial+final
    aggregation pass (completes the grouping-sets family next to A7's
    ROLLUP). ``grouping()`` flags disambiguate subtotal NULLs from genuine
    NULL values, keeping the hash comparison exact.
    """
    docs = tables.load(spark, sf_dir, "documents", fan=True)
    return (
        docs.cube("source", "lang")
        .agg(
            # grouping() must live inside the aggregate expression list
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .select("source", "lang", "g_source", "g_lang", "n_docs", "n_chars")
    )


def agg_cube_source_lang_oracle() -> str:
    return """
        SELECT source, lang,
               CAST(GROUPING(source) AS INTEGER) AS g_source,
               CAST(GROUPING(lang) AS INTEGER) AS g_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars
        FROM documents
        GROUP BY CUBE (source, lang)
    """


EWMA_ALPHA = 0.3  # smoothing weight on the newest observation
# (1−α)^−t overflows double (→ inf, and 0·inf = NaN) near t ≈ 2000 at
# α=0.3; the scaled prefix sum therefore RESTARTS every EWMA_CHUNK days
# ((0.7)^−599 ≈ 1e93 — comfortably finite) and each chunk is seeded by a
# carry from the previous chunk's scaled total. Unbounded series length at
# bounded exponents: the chunked form computes a 2-year (or 20-year) daily
# series that the single-window form could not.
EWMA_CHUNK = 600


def agg_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event counts per type
    — the trend line dashboards draw next to the raw series. EWMA is
    defined recursively (s_t = α·x_t + (1−α)·s_{t−1}) but needs NO
    sequential fold: with day index t, s_t = α·(1−α)^t · Σ_{i≤t} x_i/(1−α)^i
    — one cumulative sum over a window ordered by day, all closed-form
    arithmetic. The (1−α)^{−t} scaling overflows double for long series, so
    the prefix sum is CHUNKED: with chunk c = t // S, local index u = t % S
    (S = ``EWMA_CHUNK``), the unnormalized numerator decomposes as

        N_t = α·(1−α)^u · ( P_local(t) + (1−α)^S · LS_{c−1} )

    where P_local is the within-chunk scaled prefix sum and LS_{c−1} the
    previous chunk's scaled TOTAL (the carry). Exponents never exceed S, so
    any series length computes. Carries deeper than one chunk contribute
    ≤ (1−α)^{2S} · LS ≈ 1e−93 relative — vanishing under the 6dp output
    rounding on BOTH engines, so truncating to one chunk back keeps the
    cross-engine check exact (the oracle uses the identical truncation).
    For t < S the expression reduces bit-for-bit to the single-window form.

    Plan: one (type, day) aggregation, then three windows over the
    AGGREGATED frame (types × days rows), all sharing the (event_type, day)
    sort — the per-chunk prefix sum, the per-chunk total, and a
    RANGE(-1, -1) window over chunk for the carry (no self-join).
    """
    from pyspark.sql.window import Window

    ev = tables.load(spark, sf_dir, "events", fan=True)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w0 = Window.partitionBy("event_type").orderBy("day")
    t = F.row_number().over(w0) - 1
    S = EWMA_CHUNK
    with_t = (
        daily.withColumn("t", t)
        .withColumn("chunk", (F.col("t") / S).cast("long"))
        .withColumn("u", F.col("t") % S)
    )
    decay = F.lit(1.0 - EWMA_ALPHA)
    scaled = F.col("n") / F.pow(decay, F.col("u"))
    # within-chunk running scaled sum: order by day (not the derived t) so
    # the window reuses the w0 sort; t is row_number-1 over day, so the
    # orders are identical
    w_run = (
        Window.partitionBy("event_type", "chunk")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # previous chunk's scaled total, via a RANGE frame over the chunk
    # NUMBER — rows whose chunk == current chunk - 1 — which keeps the
    # carry a window (one pass) instead of a chunk-level self-join
    w_prev = (
        Window.partitionBy("event_type").orderBy("chunk").rangeBetween(-1, -1)
    )
    p_local = F.sum(scaled).over(w_run)
    prev_ls = F.coalesce(F.sum(scaled).over(w_prev), F.lit(0.0))
    numer = (F.lit(EWMA_ALPHA) * F.pow(decay, F.col("u"))) * (
        p_local + F.pow(decay, F.lit(S)) * prev_ls
    )
    # the standard convention seeds s_0 with the first observation, which
    # the pure-sum form underweights; rescale by the partial normalizer
    # 1 - (1-α)^(t+1) (the adjust=True/debiased EWMA every stats library
    # defaults to). (1-α)^(t+1) only ever shrinks with t — no overflow —
    # and is exactly 1.0-absorbed for t ≳ 110 on both engines.
    adj = F.lit(1.0) - F.pow(decay, F.col("t") + 1)
    return with_t.select(
        "event_type",
        "day",
        "n",
        F.round(numer / adj, 6).alias("ewma"),
    )


def agg_ewma_daily_oracle() -> str:
    a, d, s = EWMA_ALPHA, 1.0 - EWMA_ALPHA, EWMA_CHUNK
    return f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t,
                   (row_number() OVER (PARTITION BY event_type ORDER BY day) - 1) // {s} AS chunk,
                   (row_number() OVER (PARTITION BY event_type ORDER BY day) - 1) % {s} AS u
            FROM daily
        )
        SELECT event_type, day, n,
               ROUND(({a} * power({d}, u))
                     * (SUM(n / power({d}, u)) OVER (
                            PARTITION BY event_type, chunk ORDER BY t
                            ROWS UNBOUNDED PRECEDING)
                        + power({d}, {s}) * COALESCE(SUM(n / power({d}, u)) OVER (
                            PARTITION BY event_type ORDER BY chunk
                            RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING), 0.0))
                     / (1.0 - power({d}, t + 1)), 6) AS ewma
        FROM idx
    """


def agg_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement stickiness: mean daily-active users / weekly-active
    users per ISO week (the DAU/MAU product-analytics staple at the
    fixture's one-month span). avg_dau is an exact BIGINT sum of per-day
    distinct counts divided once, so no float accumulation; stickiness is
    computed from the ROUNDED mean. Plan: two count-distinct aggregations
    on (week[, day]) composite keys joined on the ≤5-row week frame.
    """
    ev = tables.load(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    # optimization round 13 (guide §2.3/§2.4): both branches previously
    # rescanned events and ran their own count-distinct expansion. One
    # shared (week, day, user_id) distinct — materialized once — now
    # feeds both: DAU is a plain count over it, and WAU's distinct runs
    # over the already-deduped (much smaller) frame. countDistinct over
    # a frame with duplicate rows removed is unchanged by construction.
    du = d.distinct().localCheckpoint(eager=False)
    dau = du.groupBy("week", "day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    per_week = dau.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
    )
    wau = du.groupBy("week").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    joined = per_week.join(wau, "week").withColumn(
        "avg_dau",
        F.round(F.col("dau_sum").cast("double") / F.col("n_days").cast("double"), 6),
    )
    return joined.select(
        "week", "n_days", "wau", "avg_dau",
        F.round(F.col("avg_dau") / F.col("wau").cast("double"), 6).alias("stickiness"),
    )


def agg_user_stickiness_oracle() -> str:
    return """
        WITH d AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                   CAST(ts AS DATE) AS day, user_id
            FROM events
        ),
        dau AS (
            SELECT week, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
            FROM d GROUP BY week, day
        ),
        per_week AS (
            SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(dau) AS BIGINT) AS dau_sum
            FROM dau GROUP BY week
        ),
        wau AS (
            SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
            FROM d GROUP BY week
        ),
        j AS (
            SELECT p.week, p.n_days, w.wau,
                   ROUND(CAST(p.dau_sum AS DOUBLE) / CAST(p.n_days AS DOUBLE), 6) AS avg_dau
            FROM per_week p JOIN wau w USING (week)
        )
        SELECT week, n_days, wau, avg_dau,
               ROUND(avg_dau / CAST(wau AS DOUBLE), 6) AS stickiness
        FROM j
    """
