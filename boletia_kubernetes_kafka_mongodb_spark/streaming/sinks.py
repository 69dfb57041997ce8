"""Durable ``foreachBatch`` state: one store, one replay gate (SURVEY.md
§2.1 S2, §2.3 M6, §7 Phase 3b).

The reference gets exactly-once *effect* over at-least-once delivery by
committing an offset only with its effect and making the effect safe to
replay (``inventario/main.go:56-66``, ``README.md:148-155``); Structured
Streaming makes a sink idempotent on the batch id, which the engine
re-delivers unchanged on recovery. Every stateful sink in the package is
one ``update(standing | None, batch) -> frame`` committed into the one
store, :class:`DurableTable`, through the one gate,
:func:`durable_handler`. The MERGE updates here — ``upsert_keep_last``
(S2 replace-by-key clone) and ``insert_if_absent`` (M6 dedup) — are also
value-idempotent, which covers a fresh checkpoint re-reading old data.
On a real deployment the store is a Delta/Iceberg table (ACID commit,
``txnAppId``/``txnVersion`` for the gate); the dataflow is identical.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._snapshot import SnapshotDir

_QUERY_ID = "sql.streaming.queryId"  # the local property foreachBatch runs under
_HORIZONS = "_horizons"  # in each committed tree; Spark's reader skips "_" files


def _query(spark: SparkSession) -> str:
    """The id of the streaming query whose batch this thread runs: stable
    across restarts of one checkpoint, new for a fresh checkpoint. ``-``
    outside a stream (a direct call)."""
    return spark.sparkContext.getLocalProperty(_QUERY_ID) or "-"


class DurableTable:
    """The one durable ``foreachBatch`` store: a committed state is one
    parquet tree behind the package's one pointer commit
    (``streaming._snapshot.SnapshotDir``), so a crash at any instant
    leaves the previous or the new state, and nothing is pinned in
    executor storage. The pointer's id is the store's commit horizon: the
    batch id, or one past the committed id when a fresh checkpoint
    numbers its batches below it. The tree's ``_horizons`` file maps each
    streaming query that committed here to the last batch id it
    committed, which is what :func:`durable_handler` tells a replay by. A
    tree written before that record existed reads as committed by no
    query."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._snap = SnapshotDir(path)

    def load(self) -> tuple[DataFrame | None, int, dict[str, int]]:
        """(state frame, commit horizon, ``{query: last batch id it
        committed}``) from one read of the pointer, which the next
        :meth:`save`'s single-writer check compares against;
        ``(None, -1, {})`` when nothing has ever been committed."""
        sub, bid = self._snap.current()
        if sub is None:
            return None, bid, {}
        frame, record = self.spark.read.parquet(sub), os.path.join(sub, _HORIZONS)
        if not os.path.exists(record):
            return frame, bid, {}
        with open(record) as f:
            return frame, bid, json.load(f)

    def read(self) -> DataFrame | None:
        return self.load()[0]

    def save(self, frame: DataFrame, bid: int, horizons: dict[str, int]) -> None:
        """Commit ``frame`` at commit horizon ``bid`` with ``horizons`` as
        its record. Refused if the pointer moved since this handle last
        loaded or saved."""

        def write(tree: str) -> None:
            frame.write.parquet(tree)
            with open(os.path.join(tree, _HORIZONS), "w") as f:
                json.dump(horizons, f)

        self._snap.publish(bid, write)


def durable_handler(store: DurableTable, update, emit):
    """The per-batch body of every durable sink: pass it to
    ``writeStream.foreachBatch``, or call it from a composed handler.

    ``update(standing | None, batch) -> frame`` folds one micro-batch into
    the committed state, and ``emit(batch_id, standing)``, unless None,
    receives the committed state after each batch. Each call loads the
    store once: a redelivered batch emits the committed state and does
    not fold, so replaying a batch is a no-op. Any other batch commits
    ``update(standing, batch)``, and only the committed state is served
    after it: a save that dies leaves the state the store holds, and the
    retry folds the batch exactly once. ``standing`` scans the committed
    tree, which the next commit collects, so ``emit`` consumes it before
    returning.

    Two rules decide what a batch id means:

    1. ``batch_id=None`` (a direct call outside a stream) is the next id,
       one past the store's horizon, folded with no replay check.
    2. A batch is a replay only if the same streaming query committed it:
       its id is at or below the last id that query committed. A fresh
       checkpoint (a new consumer group) over a store with data numbers
       its batches from 0 again, and its batches fold; value-idempotent
       updates keep that re-read safe. Direct calls with an id count as
       one query of their own."""

    def _each(batch: DataFrame, bid: int | None = None) -> None:
        standing, last, horizons = store.load()
        query = _query(store.spark)
        if bid is not None and bid <= horizons.get(query, -1):
            if emit is not None:
                emit(bid, standing)
            return
        bid = last + 1 if bid is None else bid
        store.save(update(standing, batch), max(bid, last + 1), {**horizons, query: bid})
        if emit is not None:
            emit(bid, store.read())

    return _each


# -- the MERGE updates --------------------------------------------------------


def _first_per_key(df: DataFrame, key: str, order: Column) -> DataFrame:
    w = Window.partitionBy(key).orderBy(order)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def upsert_keep_last(
    standing: DataFrame | None, batch: DataFrame, key: str, order_col: str
) -> DataFrame:
    """S2 insert-or-replace by key: the highest-``order_col`` row of each
    key wins, across the standing table AND the batch (so a re-fold is a
    no-op)."""
    unioned = batch if standing is None else standing.unionByName(batch)
    return _first_per_key(unioned, key, F.col(order_col).desc())


def insert_if_absent(
    standing: DataFrame | None, batch: DataFrame, key: str, order_col: str
) -> DataFrame:
    """M6 insert-if-absent: the standing rows plus the batch's first
    occurrence (lowest ``order_col``) of every key not present yet — the
    ``IsDup ⇒ ok`` unique-index semantics."""
    deduped = _first_per_key(batch, key, F.col(order_col).asc())
    if standing is None:
        return deduped
    return standing.unionByName(deduped.join(standing.select(key), on=key, how="left_anti"))


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming-native redelivery dedup: ``dropDuplicatesWithinWatermark``.

    The engine-level twin of the consumers' idempotency discipline (M6 /
    ``inventario/main.go:88-95``'s IsDup-is-success): a key seen again
    within the watermark horizon is dropped, and — unlike plain
    ``dropDuplicates`` on a stream, whose key state grows forever — state
    for keys older than the watermark is EVICTED. At-least-once redelivery
    windows are delivery-close in practice (same micro-batch, adjacent
    batch), so a horizon bounded by event-time lateness is exactly the
    right state contract at scale.
    """
    et = F.col(event_time_col).cast("timestamp")
    return (
        stream.withColumn("_event_time", et)
        .withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .drop("_event_time")
    )
