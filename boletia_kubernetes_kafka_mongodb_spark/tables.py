"""Testdata loaders and the boletia domain views.

The reference's data model (SURVEY.md §1.4; reference
``clientes-go/contratos/contratos.go:7-37``) has three collections:

- ``eventos``   (_id 24-hex, nombre unique, capacidad int, categoria, estado A|C)
- ``reservas``  (_id 24-hex, evento FK→eventos.nombre, estado A|X|C, email, cantidad)
- ``inventario`` (clone of eventos where capacidad means *available*)

Per FIXTURES.md §3 those are mapped deterministically onto the TPC-H-ish
testdata so the DuckDB oracle can check every operator:

- ``eventos``  ⇐ ``part``:     one event per part key; capacity = p_size*10
- ``reservas`` ⇐ ``lineitem``: one reservation per line item; estado from
  l_returnflag (N→A active, R→X user-cancelled, A→C organizer-cancelled);
  ``seq`` = l_orderkey*10 + l_linenumber gives the deterministic total order
  that replaces the reference's 1-partition-per-topic Kafka FIFO
  (``clientes.yaml:151-152``).
- ``inventario`` ⇐ the availability join (eventos ⟕ active-reservation sums)
  — the consistency invariant capacidad_available = capacidad − Σ active
  (reference ``README.md:266,441-454``).

The *same* mapping is declared in SQL form in :mod:`..oracle` — keep both in
sync; the driver hash-compares their outputs.

Scale notes: the eventos and reservas views are pure narrow projections over
the parquet scans — Catalyst pushes filters/column pruning through them, so
e.g. a point lookup on ``eventos`` compiles to a parquet scan of ``part``
with PushedFilters on ``p_partkey``; they never materialize or collect.
``inventario`` is the exception: it reads the maintained ``reservado``
counter of the keyed tree (``sources/layouts``), which the first call per
``lineitem`` content writes to disk.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache

def load(spark: SparkSession, sf_dir: str, name: str, fan: bool = False) -> DataFrame:
    """Read one testdata table. Parquet scan → column pruning + predicate
    pushdown come free downstream.

    ``events.parquet`` carries ``timestamp[us]`` (no UTC adjustment) which
    Spark reads as TIMESTAMP_NTZ; the session timezone is pinned to UTC so
    epoch math matches DuckDB's ``epoch_us(ts)`` exactly. The legacy
    nanosAsLong conf stays set defensively: if the driver regenerates the
    fixture with TIMESTAMP(NANOS) (as an earlier testdata build did), the
    scan still succeeds instead of erroring.

    HARD INVARIANT: both confs mutate the SHARED session on every call —
    deliberately, because the external driver imports this engine into a
    SparkSession it owns (unknown config, possibly non-UTC), and the
    hostile-config verify flow passes precisely because every table read
    re-pins them. The cost: any caller setting a different session timezone
    has it overwritten by the next load; run such code in its own session.
    Engine code must never reset these between a load and its action.

    ``fan=True``: spread the scan across the cluster BEFORE CPU-heavy
    downstream work (hashing, shingling, JSON encode, UDF probes). The
    decision uses the file size on disk — instant, vs ~0.5s of driver time
    for a ``df.rdd.getNumPartitions()`` plan translation — and is a no-op
    once the file is big enough to split into ≥ one task per core natively
    (at real scale the splits come from maxPartitionBytes, not from us).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"

    # memoized (see `cache`): `spark.read.parquet` pays driver-side file
    # listing + footer/schema reads on EVERY call (measured ~0.1-0.3 s of
    # pure plan-build per query at sf0.1). The cached object is a LOGICAL
    # plan: every action still computes from parquet.
    def _read():
        df = spark.read.parquet(path)
        if fan:
            target = max(spark.sparkContext.defaultParallelism * 2, 8)
            max_split = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default
            try:
                small = os.path.getsize(path) < target * max_split
            except OSError:  # directory-style dataset — let natural splits rule
                small = False
            if small:
                df = df.repartition(target)
        return df

    return cache.cached(spark, sf_dir, (name,), f"load-fan={fan}", _read)


# ---------------------------------------------------------------------------
# Domain views (keep in lock-step with oracle.DOMAIN_CTE)
# ---------------------------------------------------------------------------

def hex24(col: F.Column) -> F.Column:
    """24-hex rendering of a non-negative long — ``%024x`` semantics via
    hex/lpad (F4; cheaper than format_string, identical output)."""
    return F.lower(F.lpad(F.hex(col), 24, "0"))


def evento_label(pk: F.Column) -> F.Column:
    """``Evento %06d`` of a partkey via concat/lpad."""
    return F.concat(F.lit("Evento "), F.lpad(pk.cast("string"), 6, "0"))


def email_label(suppkey: F.Column) -> F.Column:
    """``user<N>@example.com`` of a suppkey (the reservas email contract)."""
    return F.concat(F.lit("user"), suppkey.cast("string"), F.lit("@example.com"))


def partkey_of_nombre(nombre: str) -> int | None:
    """Invert the ``nombre`` derivation ("Evento %06d" of p_partkey).

    Catalyst cannot invert ``format_string``, so an equality predicate on the
    derived ``nombre`` column would never reach the parquet scan. Point
    lookups translate the predicate to the base column by hand — the
    view-aware computed-column pushdown an index gives the reference
    (unique index on nombre, ``eventos/main.go:25-30``).
    """
    m = re.fullmatch(r"Evento (\d{6})", nombre)
    return int(m.group(1)) if m else None


def eventos_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eventos view on its raw long key — labels unrendered.

    Same derivations as :func:`eventos`, but ``p_partkey`` stays exposed so
    operators can join/aggregate/shuffle on the 8-byte key and render the
    ``_id``/``nombre`` strings only on their (post-shuffle) output — shuffles
    carry longs, string building runs once per surviving row.
    """
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        (F.col("p_size") * F.lit(10)).cast("int").alias("capacidad"),
        F.col("p_brand").alias("categoria"),
        F.when(F.col("p_partkey") % 10 == 0, F.lit("C")).otherwise(F.lit("A")).alias("estado"),
    )


def eventos(spark: SparkSession, sf_dir: str, nombre_eq: str | None = None) -> DataFrame:
    """Event catalog view ⇐ ``part``.

    Matches the ``Evento`` contract (reference ``contratos/contratos.go:7-13``):
    _id 24-hex (F4/F5 hex-id semantics), unique nombre (the reference enforces
    a unique index, ``eventos/main.go:25-30``), capacidad, categoria, estado.

    ``nombre_eq``: optional point-lookup key; translated to a ``p_partkey``
    equality that pushes down into the parquet scan (min/max skipping ≙ the
    reference's unique index access path).
    """
    keyed = eventos_keyed(spark, sf_dir)
    if nombre_eq is not None:
        pk = partkey_of_nombre(nombre_eq)
        # unparseable nombre can match nothing: the view is exhaustive over partkeys
        keyed = keyed.where(F.col("p_partkey") == (pk if pk is not None else F.lit(-1)))
    # hex24/label/email columns build from concat/lpad/hex rather than
    # format_string: java.util.Formatter costs ~2x the whole-stage-codegen
    # string ops at corpus scale (measured 1.33s -> 0.75s on 600k rows),
    # byte-identical output for non-negative longs.
    return keyed.select(
        hex24(F.col("p_partkey")).alias("_id"),
        evento_label(F.col("p_partkey")).alias("nombre"),
        "capacidad",
        "categoria",
        "estado",
    )


def reservas_keyed(
    spark: SparkSession,
    sf_dir: str,
    fan: bool = False,
    estado_eq: str | None = None,
) -> DataFrame:
    """The reservas view on its raw long keys — labels unrendered.

    Columns: ``l_partkey`` (⇔ evento), ``l_suppkey`` (⇔ email),
    ``estado``, ``cantidad``, ``seq``. Operators join/window/shuffle on the
    longs and render strings post-shuffle via :func:`reserva_render`.

    ``estado_eq``: optional estado filter hand-translated to the base
    ``l_returnflag`` predicate (A⇔'N', X⇔'R', C⇔rest) so it reaches the
    parquet scan as a PushedFilter — filtering the derived CASE column
    would not push down (the partkey_of_nombre move, for states).
    """
    li = load(spark, sf_dir, "lineitem", fan=fan)
    if estado_eq is not None:
        rf = {"A": "N", "X": "R"}.get(estado_eq)
        if rf is not None:
            li = li.where(F.col("l_returnflag") == rf)
        else:
            li = li.where(~F.col("l_returnflag").isin("N", "R"))
    return li.select(
        "l_partkey",
        "l_suppkey",
        F.when(F.col("l_returnflag") == "N", F.lit("A"))
        .when(F.col("l_returnflag") == "R", F.lit("X"))
        .otherwise(F.lit("C"))
        .alias("estado"),
        F.col("l_quantity").cast("int").alias("cantidad"),
        reserva_seq().alias("seq"),
    )


def reserva_render(keyed: DataFrame) -> DataFrame:
    """Render the Reserva contract strings from the raw keys.

    Input needs (l_partkey, l_suppkey, estado, cantidad, seq); output is the
    full Reserva shape (_id, evento, estado, email, cantidad, seq).
    """
    return keyed.select(
        hex24(F.col("seq")).alias("_id"),
        evento_label(F.col("l_partkey")).alias("evento"),
        "estado",
        email_label(F.col("l_suppkey")).alias("email"),
        "cantidad",
        "seq",
    )


def reservas(spark: SparkSession, sf_dir: str, fan: bool = False) -> DataFrame:
    """Reservations view ⇐ ``lineitem``.

    Matches the ``Reserva`` contract (reference ``contratos/contratos.go:23-29``;
    states A/X/C per ``README.md:400``). ``seq`` is the explicit arrival-order
    column standing in for Kafka per-topic FIFO order.

    ``fan=True`` repartitions the RAW scan before the projection — the
    string-render work must sit ABOVE the exchange to parallelize
    (repartitioning the projected frame runs the projection on the
    single-split scan partition first, then shuffles finished rows).
    """
    return reserva_render(reservas_keyed(spark, sf_dir, fan=fan))


def reserva_seq() -> F.Column:
    """The packed arrival-order key over raw ``lineitem`` columns.

    (l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity) is the
    minimal unique key of the synthetic lineitem (verified at every SF;
    quantity is always integral); pack it into one bigint so ``_id`` is a
    true primary key and ``seq`` a deterministic total order. Slots:
    ok·1e12 | ln·1e11 | pk·1e6 | sk·1e2 | qty — headroom holds while
    ok<9.2e6, pk<1e5, sk<1e4, qty<100 (true through sf≈0.5).
    """
    return (
        F.col("l_orderkey") * F.lit(1_000_000_000_000)
        + F.col("l_linenumber").cast("long") * F.lit(100_000_000_000)
        + F.col("l_partkey") * F.lit(1_000_000)
        + F.col("l_suppkey") * F.lit(100)
        + F.col("l_quantity").cast("long")
    ).cast("long")


def seq_to_parts(seq: int) -> tuple[int, int, int, int, int]:
    """Invert :func:`reserva_seq`'s packing back to the base lineitem key
    columns (l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity).

    The ``_id`` point lookup unpacks its ``l_partkey`` from here (the
    computed-column pushdown move of :func:`partkey_of_nombre`): an
    equality on the bucket key of the keyed tree prunes to one bucket
    file and, by min/max statistics, to one row group.
    """
    qty = seq % 100
    sk = (seq // 100) % 10_000
    pk = (seq // 1_000_000) % 100_000
    ln = (seq // 100_000_000_000) % 10
    ok = seq // 1_000_000_000_000
    return ok, ln, pk, sk, qty


def inventario_rows(ev: DataFrame, reserved: DataFrame) -> DataFrame:
    """The inventario shape of ``eventos_keyed`` ⟕ ``reserved``
    (``l_partkey``, ``reservado``): events without active reservations
    keep their whole capacity. Callers choose the join strategy by the
    frames they pass (a broadcast hint, or co-bucketed tables)."""
    reservado = F.coalesce(reserved["reservado"], F.lit(0)).cast("long")
    return ev.join(reserved, ev["p_partkey"] == reserved["l_partkey"], "left").select(
        hex24(ev["p_partkey"]).alias("_id"),
        evento_label(ev["p_partkey"]).alias("nombre"),
        ev["capacidad"],
        ev["categoria"],
        ev["estado"],
        reservado.alias("reservado"),
        (ev["capacidad"] - reservado).cast("long").alias("disponible"),
    )


def inventario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory view: eventos enriched with current availability.

    The reference maintains this incrementally as a per-document counter
    (``reservas/main.go:151-165`` decrement, ``inventario/main.go:116-129``
    restitution); batch-equivalently it is the availability join J4:
    disponible = capacidad − Σ cantidad of *active* reservations
    (``README.md:266,441-454``).

    The Σ is that counter, kept: the keyed tree's ``reservado``
    (``sources/layouts.reservado``, ≤ one row per event, built once per
    ``lineitem`` content). Physical plan: a scan of ``part`` and of
    ``reservado``, and a broadcast-hash-join of ``reservado`` against
    eventos — no scan of ``lineitem``, no aggregate, no shuffle. The
    left-outer keeps every event; the _id/nombre strings render once per
    event on the output.
    """
    # lazy: layouts imports this module
    from .sources import layouts

    return inventario_rows(
        eventos_keyed(spark, sf_dir), F.broadcast(layouts.reservado(spark, sf_dir))
    )
