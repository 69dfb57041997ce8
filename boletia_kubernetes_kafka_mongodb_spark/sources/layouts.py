"""Write-time physical layouts: the generic tree I/O under the 100 TB
scale paths.

- **Partitioned readers** (`read_layout` / `read_partitions`): a
  session-cached read of a Hive-partitioned tree and its partition-pruned
  probe. The ANN layouts of ``operators/similarity.py`` (IVF lists, SRP
  band buckets) are written there and served through these readers, so a
  probe reads ONLY its partitions — pruning at planning time, no per-row
  filtering. The quantizer, the sign-bit codes and the scoring live in
  ``similarity`` alone; this module knows nothing of vectors.
- **The keyed tree** (`write_bucketed_tables` / `keyed_tree`): one tree
  per ``part``/``lineitem`` content holding the keyed domain views
  bucketed by the event key (``reservas`` sorted by ``(l_partkey, seq)``
  in small row groups) and ``reservado``, the maintained active Σ per
  event. The booking reads then read only their key: the availability
  join (J4) broadcasts ``reservado`` instead of aggregating ``lineitem``,
  or joins the buckets with NO exchange on either side
  (`availability_join_bucketed`); the admission window runs per bucket
  with no shuffle; the ``_id`` lookup reads its id from the footers and
  probes one bucket file and one row group. Co-located buckets are how
  a daily 100 TB join amortizes its shuffle into the (one-time) write.
- **Maintenance**: `compact_layout` (small-file compaction of any
  partitioned tree) and `IncrementalIvfIndex` (a base snapshot plus
  committed deltas behind a pointer file).

The writers here take an output path and know nothing of caching. The
operators' ``ensure_*`` functions hand them to ``cache.artifact``, which
keys the output by the source tables' content, writes it once into a
staging tree, publishes it with a pointer-file commit and shares it with
every later session (see the ``cache`` docstring).
"""

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache, tables
from ..streaming._snapshot import EMPTY, SnapshotDir


# ---------------------------------------------------------------------------
# Partitioned layout readers
# ---------------------------------------------------------------------------

def read_layout(spark: SparkSession, layout_path: str) -> DataFrame:
    """Session-cached parquet read of a partitioned layout.

    ``spark.read.parquet`` builds a fresh InMemoryFileIndex per call — for
    a 512-directory band layout that is ~2 s of pure file listing billed
    to EVERY probe. A deployment registers the layout as a catalog table
    and lists once; this cache is that model for ad-hoc paths (a layout
    served by ``cache.artifact`` is a committed, never-rewritten tree, so
    its path names its content). Partition pruning still happens per query
    on top of the cached relation."""
    return cache.cached(
        spark, layout_path, (), "layout", lambda: spark.read.parquet(layout_path)
    )


def read_partitions(
    spark: SparkSession, layout_path: str, column: str, values
) -> DataFrame:
    """Scan ONLY the ``column=<v>`` partitions of a Hive-partitioned layout
    (an IVF layout's probe lists, an SRP layout's probe buckets).

    The ``isin`` filter on the partition column resolves at planning time —
    ``PartitionFilters`` in the scan node, zero data files opened outside
    the probe set (pinned in tests/test_layouts.py).
    """
    return read_layout(spark, layout_path).where(
        F.col(column).isin([int(v) for v in values])
    )


# ---------------------------------------------------------------------------
# The keyed tree: bucketed domain tables and the maintained reservado
# ---------------------------------------------------------------------------

N_BUCKETS = 8
# rows per parquet row group of the bucketed tables: a key probe that
# min/max-skips reads at most one group
ROW_GROUP_ROWS = 64 * 1024

# (table, keyed domain view, sort key): each table is bucketed by the first
# sort column — eventos and reservas by their event key, so the
# availability join and the per-event admission window need no exchange,
# and reservas lies in arrival order within an event
BUCKETED = (
    ("eventos_keyed", tables.eventos_keyed, ("p_partkey",)),
    ("reservas_keyed", tables.reservas_keyed, ("l_partkey", "seq")),
)


def write_bucketed_tables(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Persist the keyed tree under ``out``: one directory per table of
    `BUCKETED`, plus ``reservado``.

    - The bucketed tables are written ``bucketBy(N, key).sortBy(sort)``.
      Once registered with that spec (`register_bucketed_tables`), an
      equi-join, aggregate or window on the key matches buckets with NO
      exchange: the one-time write pays the shuffle every later query
      skips. ``repartition(N, key)`` hashes rows exactly as the bucket id
      does, so N tasks each sort and write one bucket file in parallel
      (the source scan is one split; without it one task sorts and
      writes every bucket, 2.2-3.0 s against 1.2-2.4 s for reservas at
      sf0.1 on 4 CPUs). Row groups hold at most `ROW_GROUP_ROWS` rows:
      a probe on ``(l_partkey, seq)`` prunes to one bucket file and, by
      the footer statistics, to one row group.
    - ``reservado`` is the active Σ ``cantidad`` per ``l_partkey``, one
      row per event with active reservations: the reference's maintained
      ``inventario`` counter (``reservas/main.go:151-165``), which
      ``tables.inventario`` joins instead of aggregating ``reservas``.
    """
    import uuid

    for name, view, sort in BUCKETED:
        # bucketBy writes only through saveAsTable: write an external
        # table and drop it, which leaves the files behind
        tmp = f"boletia_bucketing_{uuid.uuid4().hex}"
        (
            view(spark, sf_dir).repartition(N_BUCKETS, sort[0])
            .write.bucketBy(N_BUCKETS, sort[0])
            .sortBy(*sort)
            .option("parquet.block.row.count.limit", ROW_GROUP_ROWS)
            .option("path", f"{out}/{name}")
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE {tmp}")
    active = spark.read.parquet(f"{out}/reservas_keyed").where(F.col("estado") == "A")
    (
        active.groupBy("l_partkey")
        .agg(F.sum("cantidad").cast("long").alias("reservado"))
        .coalesce(1)
        .write.parquet(f"{out}/reservado")
    )


def register_bucketed_tables(spark: SparkSession, db: str, location: str) -> None:
    """Register the bucketed files under ``location`` as ``db``'s tables,
    declaring the bucket spec they were written with (the catalog, not
    the files, carries it)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name, _, sort in BUCKETED:
        path = f"{location}/{name}"
        cols = spark.read.parquet(path).schema.toDDL()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.{name} ({cols}) USING parquet "
            f"CLUSTERED BY ({sort[0]}) SORTED BY ({', '.join(sort)}) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}'"
        )


def keyed_tree(spark: SparkSession, sf_dir: str) -> str:
    """Path of the committed keyed tree for ``sf_dir``.

    A ``cache.artifact`` keyed by BOTH source tables (eventos_keyed derives
    from part, reservas_keyed and reservado from lineitem): written once
    per content and shared by every session and process."""
    return cache.artifact(
        spark, sf_dir, ("part", "lineitem"), "keyed_v1",
        lambda out: write_bucketed_tables(spark, sf_dir, out),
    )


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> str:
    """Register the keyed tree's bucketed tables for ``sf_dir`` in this
    session's catalog, if they are not there yet, and return the database
    name.

    A new session only registers the committed tree, it never rewrites
    identical data. The database name is derived from the tree, so a
    regenerated fixture registers fresh buckets under a fresh name."""
    import hashlib

    tree = keyed_tree(spark, sf_dir)
    db = "boletia_bucketed_" + hashlib.md5(tree.encode()).hexdigest()[:12]
    if not all(spark.catalog.tableExists(f"{db}.{name}") for name, _, _ in BUCKETED):
        register_bucketed_tables(spark, db, tree)
    return db


def reservado(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed tree's ``reservado`` (``l_partkey``, ``reservado``): the
    active Σ ``cantidad`` per event, ≤ one row per event."""
    tree = keyed_tree(spark, sf_dir)
    # keyed on the tree path, which names its content: the parquet read's
    # file listing and schema job are paid once per session
    return cache.cached(
        spark, tree, (), "keyed-reservado",
        lambda: spark.read.parquet(f"{tree}/reservado"),
    )


def min_reserva_seq(spark: SparkSession, sf_dir: str) -> "int | None":
    """The smallest ``seq`` of all reservas (None when there are none),
    read from the row-group statistics of the keyed tree's
    ``reservas_keyed`` parquet footers on the driver — no Spark job."""
    import glob

    import pyarrow.parquet as pq

    lo = None
    for f in glob.glob(f"{keyed_tree(spark, sf_dir)}/reservas_keyed/*.parquet"):
        meta = pq.read_metadata(f)
        col = meta.schema.names.index("seq")
        for i in range(meta.num_row_groups):
            v = meta.row_group(i).column(col).statistics.min
            lo = v if lo is None else min(lo, v)
    return lo


def availability_join_bucketed(
    spark: SparkSession, db: str = "boletia_bucketed"
) -> DataFrame:
    """J4 (flagship availability) over the bucketed tables — exchange-free.

    The aggregate inherits the bucket distribution (groupBy on the bucket
    key needs no shuffle), and the join matches buckets 1:1. Output is the
    same inventario shape as ``tables.inventario``.
    """
    ev = spark.table(f"{db}.eventos_keyed")
    res = spark.table(f"{db}.reservas_keyed").where(F.col("estado") == "A")
    reserved = res.groupBy("l_partkey").agg(
        F.sum("cantidad").cast("long").alias("reservado")
    )
    return tables.inventario_rows(ev, reserved)


# ---------------------------------------------------------------------------
# Date-partitioned event-log layout (the canonical time-series layout)
# ---------------------------------------------------------------------------

def write_time_partitioned_events(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist ``events`` partitioned by event date (``dt=YYYY-MM-DD``
    directories) — how every 100 TB event log is actually laid out: a query
    over a time range reads only its days' directories, and daily ingest
    appends one new partition without touching history.

    ``repartition(dt)`` before the write keeps it to one file per day per
    final task instead of (#tasks × #days) small files — the classic
    partitioned-write file-explosion trap.
    """
    ev = tables.load(spark, sf_dir, "events")
    with_dt = ev.withColumn("dt", F.to_date(F.col("ts").cast("timestamp")))
    (
        with_dt.repartition("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(out_path)
    )


def read_day_range(spark: SparkSession, layout_path: str, start: str, end: str) -> DataFrame:
    """Scan a date range off the partitioned layout. The ``dt`` predicate is
    a PARTITION filter — directories outside the range are never listed,
    let alone read (assert_partition_pruned in tests)."""
    return spark.read.parquet(layout_path).where(
        (F.col("dt") >= F.lit(start)) & (F.col("dt") <= F.lit(end))
    )


def compact_layout(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files (default = the
    maxPartitionBytes split size, so post-compaction scans get one task per
    file with no sub-splitting).

    The maintenance job every streaming/incremental sink needs — micro-batch
    appends accumulate KB-scale files whose per-file open/footer overhead
    eventually dominates scans. Returns the file count written. Uses
    ``coalesce`` (narrow, no shuffle): compaction is IO-bound repacking,
    not a repartition problem.

    Partitioned layouts (hive-style ``key=value`` subdirectories, e.g. the
    ``dt=`` layout written above) are preserved: files are discovered
    recursively, the partition columns are re-written with ``partitionBy``
    (flattening them into row data would silently destroy partition
    pruning), and sizing counts every file, not just top-level ones. The
    swap parks the old directory aside BEFORE promoting the compacted one —
    a crash between the two renames leaves either the original or both on
    disk, never neither (the ``._compact_old`` leftover is the recovery
    breadcrumb). Round 10: the breadcrumb is now MACHINE-recovered — a
    re-entered compaction (or any caller) finds ``path`` missing with the
    parked original beside it and restores the original before compacting,
    so the crash window self-heals instead of demanding an operator.
    (``IncrementalIvfIndex`` avoids the window entirely via its
    pointer-file protocol; this in-place function keeps the plain
    ``spark.read.parquet(path)`` directory contract.)
    """
    import glob
    import math

    old = path.rstrip("/") + "._compact_old"
    if not os.path.isdir(path) and os.path.isdir(old):
        # recover from a crash between the two swap renames: the parked
        # original is complete by construction — restore it and re-compact
        os.rename(old, path)

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    # hive-style partition dirs directly under path → preserve their columns
    part_cols = sorted(
        {
            d.split("=", 1)[0]
            for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        }
    )
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if part_cols:
        # one shuffle on the partition key → one file per partition dir
        # (per-directory small-file collapse; target_bytes governs the
        # unpartitioned case, where sizing is global)
        writer = (
            df.repartition(*part_cols).write.mode("overwrite").partitionBy(*part_cols)
        )
    else:
        writer = df.coalesce(n_out).write.mode("overwrite")
    writer.parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def write_corpus_snapshot(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """Export the CLEANED corpus — the pipeline's terminal write: documents
    that survive ``ext_corpus_keep_list``, persisted partitioned by
    (split, lang) so every downstream trainer reads exactly its slice
    (train/en, val/de, …) via partition pruning, never a full-corpus filter.

    ``repartition(split, lang)`` before the write bounds output to one file
    per (split, lang) per final task — same file-explosion guard as the
    event-log layout. Returns the snapshot manifest (one row per partition:
    docs, token mass) — the dataset card a release ships with; it is
    derived from the SAME frame that was written, so manifest≡data is
    structural, not a second pass over the source.
    """
    from ..operators.sampling import ext_corpus_keep_list

    keep = ext_corpus_keep_list(spark, sf_dir).where(F.col("keep")).select(
        "doc_id", "split"
    )
    docs = tables.load(spark, sf_dir, "documents")
    cleaned = docs.join(keep, "doc_id").select(
        "doc_id", "text", "lang", "source", "n_chars", "split"
    )
    (
        cleaned.repartition("split", "lang")
        .write.mode("overwrite")
        .partitionBy("split", "lang")
        .parquet(out_path)
    )
    from ..operators.text import tokens_col

    return (
        spark.read.parquet(out_path)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens"),
        )
    )


def read_corpus_slice(
    spark: SparkSession, snapshot_path: str, split: str, lang: str | None = None
) -> DataFrame:
    """Read one trainer's slice off the snapshot. Both predicates are
    PARTITION filters — other splits/languages are never listed."""
    df = spark.read.parquet(snapshot_path).where(F.col("split") == split)
    if lang is not None:
        df = df.where(F.col("lang") == lang)
    return df


def write_minhash_band_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the STANDING corpus's MinHash LSH keys — (doc_id, bucket)
    partitioned by band — as the near-dup index an incremental ingest
    probes nightly. The write-time cost is one signature pass over the
    standing corpus; afterwards a new batch is near-dup-checked WITHOUT
    re-touching standing text: its own (tiny) band keys hash-join this
    index. The companion of `ext_dedup_incremental`'s exact fingerprints,
    one level fuzzier.
    """
    from ..operators.dedup import minhash_band_keys
    from ..operators.sampling import split_assignment

    docs = tables.load(spark, sf_dir, "documents").where(
        split_assignment("doc_id") != "test"
    )
    (
        minhash_band_keys(docs)
        .repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(out_path)
    )


def probe_minhash_band_index(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Near-dup verdicts for the arriving batch (test split) against the
    standing index: the batch's band keys join the index on (band, bucket)
    for candidates, then exact shingle-Jaccard verifies each candidate pair
    — verification cost is |candidates|, and ONLY the new batch plus the
    matched standing docs are ever re-tokenized.
    """
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        _shingles_text,
        jaccard_col,
        minhash_band_keys,
        pair_features,
    )
    from ..operators.sampling import split_assignment

    docs = tables.load(spark, sf_dir, "documents", fan=True)
    new_docs = docs.where(split_assignment("doc_id") == "test")
    new_keys = minhash_band_keys(new_docs)
    index = spark.read.parquet(index_path).select(
        "band", "bucket", F.col("doc_id").alias("dup_of")
    )
    candidates = (
        new_keys.join(index, ["band", "bucket"]).select("doc_id", "dup_of").distinct()
    )
    paired = pair_features(
        docs,
        candidates,
        "doc_id",
        "dup_of",
        lambda d: d.select("doc_id", _shingles_text().alias("sh")),
    )
    return paired.select(
        "doc_id", "dup_of", jaccard_col("sh_a", "sh_b").alias("jaccard")
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


ZORDER_BITS = 16  # per-dimension quantization for the interleave


def _zvalue(col_a, col_b, lo_a, hi_a, lo_b, hi_b):
    """Morton/Z-value of two columns: quantize each to ZORDER_BITS against
    the observed [lo, hi], then interleave bits — pure native bit
    expressions (shiftleft/bitwise-or fold), no UDF."""
    span_a = F.greatest(F.lit(hi_a) - F.lit(lo_a), F.lit(1e-12))
    span_b = F.greatest(F.lit(hi_b) - F.lit(lo_b), F.lit(1e-12))
    max_q = (1 << ZORDER_BITS) - 1
    qa = F.least(
        F.lit(max_q),
        F.floor((col_a.cast("double") - F.lit(lo_a)) / span_a * max_q).cast("long"),
    )
    qb = F.least(
        F.lit(max_q),
        F.floor((col_b.cast("double") - F.lit(lo_b)) / span_b * max_q).cast("long"),
    )
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def write_zorder_events(
    spark: SparkSession, sf_dir: str, out_path: str, n_files: int = 16
) -> None:
    """Z-ORDER the event log on (user_id, value) — the lakehouse
    multi-dimensional clustering move (Delta OPTIMIZE ZORDER BY): a linear
    sort can make file-level min/max statistics selective on ONE column
    only; interleaving the bits of both keys keeps every file's min/max
    tight on BOTH dimensions simultaneously, so a reader filtering on either column
    (or both) skips most files via footer statistics alone.

    Plan: one bounds aggregation (2 scalars per dimension), a narrow
    Z-value map, then ``repartitionByRange(z)`` — Spark's sampled range
    exchange — with files cut along the curve. No shuffle beyond the one
    range exchange any global clustering pays.
    """
    from .. import tables

    ev = tables.load(spark, sf_dir, "events")
    b = ev.agg(
        F.min("user_id").alias("lo_a"),
        F.max("user_id").alias("hi_a"),
        F.min("value").alias("lo_b"),
        F.max("value").alias("hi_b"),
    ).collect()[0]
    z = _zvalue(
        F.col("user_id"), F.col("value"), b["lo_a"], b["hi_a"], b["lo_b"], b["hi_b"]
    )
    (
        ev.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained IVF layout (streaming index refresh)
# ---------------------------------------------------------------------------

_DELTA = re.compile(r"delta_v(\d+)")
_ABSORBED = re.compile(r"(?:base|-)_h(\d+)")


def _absorbed(name: "str | None") -> int:
    """The horizon of the deltas the base ``name`` absorbed: ``h`` for a
    ``base_h{h}_v{n}`` tree or a ``-_h{h}`` empty base, -1 (none) for
    ``base_v{n}`` and ``-``."""
    m = _ABSORBED.match(name or "")
    return int(m[1]) if m else -1


class _IndexStore(SnapshotDir):
    """The index's pointer store: the pointer names the base (a tree, or
    an empty base ``-``) and the horizon, and the committed state also
    reads every ``delta_v{b}`` above the deltas the base absorbed and at
    or below the horizon. Only an append moves the horizon; a rebase
    keeps it and names the horizon it absorbed in its base."""

    def _holds(self, entry, name, bid):
        m = _DELTA.fullmatch(entry)
        return entry == name or (
            m is not None and _absorbed(name) < int(m[1]) <= bid
        )

    def _keeps(self, entry, name, bid):
        # an uncommitted future delta is not the collection's to take
        m = _DELTA.fullmatch(entry)
        return self._holds(entry, name, bid) or (m is not None and int(m[1]) > bid)

    def pointer(self) -> "tuple[str, int]":
        """The committed (base name, horizon), checked as ``current``
        checks it; ``-`` or ``-_h{h}`` names no base tree."""
        self.current()
        name, bid = self._seen
        return name or EMPTY, bid


def _write_lists(df: DataFrame, path: str) -> bool:
    """Write ``df`` partitioned by ``ivf_list`` at ``path``; False (and no
    tree) when it holds no row. A partitioned write of an empty frame
    leaves only ``_SUCCESS``, which ``spark.read.parquet`` rejects
    (UNABLE_TO_INFER_SCHEMA), so such a tree is never committed."""
    df.write.partitionBy("ivf_list").parquet(path)
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    shutil.rmtree(path, ignore_errors=True)
    return False


class IncrementalIvfIndex:
    """LSM-style streaming-maintained IVF layout: one immutable BASE
    snapshot plus per-micro-batch immutable DELTA directories, committed
    through the package's one pointer commit (``streaming._snapshot``) —
    the streaming form of ``ext_ann_index_refresh``'s nightly append.

    Directory protocol under ``path``::

        base_h{h}_v{n}/ivf_list=<k>/... the compacted standing index, which
                                         absorbed the deltas up to ``h``
                                         (``base_v{n}``: none)
        delta_v{bid}/ivf_list=<k>/...   one committed arriving micro-batch
        CURRENT                          "{base_name}:{last_bid}"

    Committed state = the pointer's base + every ``delta_v{b}`` with
    ``h < b <= last_bid`` (base ``-`` or ``-_h{h}``: no base tree). A
    rebase's deltas therefore leave the committed state at its pointer
    flip, before the collection removes them, so a crash between the two
    cannot serve their rows twice. The append is crash-atomic and
    replay-idempotent:

    - a delta dir's name is its batch id, so a retried write after a
      crash replaces the half-written attempt instead of duplicating;
    - the pointer flip is the only commit point — a crash between delta
      write and flip leaves the batch uncommitted, and Structured
      Streaming's redelivery of that batch id re-runs it;
    - a redelivered ALREADY-committed batch is detected by
      ``bid <= last_bid`` and skipped — append-twice is a no-op, the
      same offset-commit ⇄ effect idempotency contract as the durable
      sketch monitors;
    - no tree without a data file is ever committed: a 0-row batch
      advances the horizon with no delta dir, and a 0-row rebase commits
      the base ``-``.

    ``compact()`` folds base + committed deltas into a new base snapshot
    (bounding read fan-out — the LSM merge), with the same
    either-old-or-new crash guarantee. On a real deployment this whole
    protocol is a Delta/Iceberg table (ACID appends + OPTIMIZE); the
    dataflow — frozen-quantizer assignment, partition-pruned probes,
    batch-sized nightly cost — is identical.

    SINGLE-WRITER CONTRACT: all WRITERS of one index path
    (``append``/``rebase``/``compact``) must be serialized — one
    foreachBatch handler owns the path, and the nightly rebase job must
    not overlap the stream (pause it, or run it through the same
    handler). Each writer commits through one handle, whose commit raises
    ``RuntimeError`` (preserving the other writer's commit) when the
    pointer moved since the writer read it (``SnapshotDir``).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._store = _IndexStore(path)
        os.makedirs(path, exist_ok=True)

    def current(self) -> "tuple[str | None, int]":
        """(base dir name or None, last committed batch id). A pointer
        naming a base that is not on disk raises
        ``PointerCorruptionError``; a missing committed DELTA is
        legitimate (0-row batches advance the horizon without a dir)."""
        tree, bid = self._store.current()
        return (None if tree is None else os.path.basename(tree)), bid

    # -- writers -------------------------------------------------------------

    def init_base(self, assigned_df: DataFrame) -> None:
        """One-shot standing build: write the first base snapshot and
        commit it with no batches applied (bid = -1). ``assigned_df``
        must carry the ``ivf_list`` column (the frozen quantizer's
        output)."""
        self.rebase(assigned_df)

    def rebase(self, assigned_df: DataFrame, audit=None) -> bool:
        """RE-INDEX in place (the re-cluster leg — `ext_embed_drift`
        firing is the trigger): replace the entire committed state
        (base + absorbed deltas) with a fresh base snapshot holding
        ``assigned_df`` — typically every vector re-assigned under a NEW
        quantizer trained on the grown corpus. The replay horizon
        (``last_bid``) is PRESERVED, so a batch redelivered across the
        re-index is still detected and skipped — re-clustering must not
        reopen the at-least-once window. Either the old committed state
        or the new one survives a crash, never neither; absorbed dirs are
        collected after the flip, uncommitted future deltas kept (a
        redelivered future batch rewrites its own delta dir under
        whatever quantizer the handler then holds).

        STAGED PROMOTION: when ``audit`` is given it is called with the
        fully-written candidate (a DataFrame read back from the staged —
        not yet committed — base tree, partition-pruned scans intact, or
        ``None`` for a 0-row candidate) BEFORE the pointer flip. If it
        returns falsy the staged tree is discarded and the committed
        state is untouched (returns False) — a re-clustering that fails
        its serve-quality audit (e.g. recall@k vs the exact brute-force
        form) can never replace a serving index. An audit that raises
        discards the staged tree too, so a crash-looping promotion job
        cannot stack index-sized stray trees. Returns True when the
        rebase committed.

        Consumption contract: ``assigned_df`` is evaluated ONCE, during
        the new-base write (the old dirs still exist then). If it derives
        from this index's own ``read()``, the caller must not re-evaluate
        it after rebase returns — the underlying files are gone
        (materialize first, e.g. ``localCheckpoint(eager=True)``, if the
        frame is needed afterwards)."""
        base, last = self._store.pointer()
        n = int(base.rsplit("_v", 1)[1]) if base.startswith("base") else -1
        tag = f"_h{last}" if last >= 0 else ""  # the deltas this base absorbs
        with self._store.stage(os.path.join(self.path, f"base{tag}_v{n + 1}")) as tree:
            wrote = _write_lists(assigned_df, tree)
            name = os.path.basename(tree) if wrote else EMPTY + tag
            if audit is not None and not audit(
                self.spark.read.parquet(tree) if wrote else None
            ):
                return False
            self._store.commit(name, last)
        return True

    def append(self, assigned_df: DataFrame, bid: int) -> bool:
        """Commit one arriving micro-batch (False = replay, skipped)."""
        base, last = self._store.pointer()
        if int(bid) <= last:
            return False
        with self._store.stage(os.path.join(self.path, f"delta_v{int(bid)}")) as tree:
            _write_lists(assigned_df, tree)
            self._store.commit(base, int(bid))
        return True

    def compact(self) -> None:
        """Fold base + committed deltas into a new base snapshot — the
        LSM merge, bounding read fan-out. A rebase of the CURRENT rows:
        same assignments, one file tree, same crash guarantee (the
        rebase writes the new base from the live scan BEFORE the flip,
        so the source dirs outlive the read). The per-list repartition
        collapses each partition dir to one file. A committed-but-empty
        index (only 0-row batches so far) has nothing to fold: no-op."""
        if not self._committed_dirs():
            return
        self.rebase(self.read().repartition("ivf_list"))

    # -- readers -------------------------------------------------------------

    def _committed_dirs(self) -> "list[str]":
        base, last = self._store.pointer()
        return [
            os.path.join(self.path, entry)
            for entry in sorted(os.listdir(self.path))
            if self._store._holds(entry, base, last)
        ]

    def read(self) -> DataFrame:
        """The committed index as one frame (base ∪ committed deltas).
        Each constituent is a partitioned tree, so downstream
        ``ivf_list`` filters prune every scan; ``compact()`` bounds the
        union length. Fresh (uncached) reads by design — the dir set
        changes per batch."""
        dirs = self._committed_dirs()
        if not dirs:
            raise ValueError(f"IncrementalIvfIndex at {self.path}: nothing committed")
        out = self.spark.read.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(self.spark.read.parquet(d))
        return out

    def probe(self, probe_lists: "list[int]") -> DataFrame:
        """Partition-pruned scan of the probe lists across base + deltas."""
        return self.read().where(
            F.col("ivf_list").isin([int(p) for p in probe_lists])
        )
