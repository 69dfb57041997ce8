"""Idempotent foreachBatch MERGE sinks (SURVEY.md §2.1 S2, §2.3 M6, §7 Phase 3b).

The reference achieves exactly-once *effect* over at-least-once delivery by
making every consumer idempotent: insert-or-ignore on a unique key
(``inventario/main.go:88-95``) and insert-or-replace by ``_id`` (the sink
connector, ``kafka-mongodb-connect.yaml:22-33``). The Spark equivalents are
foreachBatch writers that MERGE each micro-batch into a keyed table:

- ``upsert_keep_last``  — replace-by-key (S2 clone semantics)
- ``insert_if_absent``  — anti-join append (M6 dedup semantics)

Both are *value-idempotent*: replaying any batch (or the whole stream)
leaves the table in the same state — asserted by the replay-twice tests.

Storage: one parquet tree per committed version behind the package's one
pointer commit (``streaming._snapshot.SnapshotDir``): every MERGE writes a
whole new version and flips the pointer, so a crash at any instant leaves
the previous or the new table, never neither. On a real deployment this is
a Delta/Iceberg MERGE INTO (same dataflow, ACID commit instead of a pointer
file); the batch dedup logic is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._snapshot import SnapshotDir


class ParquetMergeTable:
    """A keyed parquet-backed table with MERGE-style writers for foreachBatch."""

    def __init__(self, spark: SparkSession, path: str, key: str, order_col: str | None = None):
        self.spark = spark
        self.path = path
        self.key = key
        self.order_col = order_col  # keep-last tie-break (e.g. seq/offset)
        self._snap = SnapshotDir(path)

    def read(self) -> DataFrame | None:
        sub, _ = self._snap.current()
        return None if sub is None else self.spark.read.parquet(sub)

    def _replace_with(self, df: DataFrame) -> None:
        """Commit ``df`` as the table's next version. The pointer's batch
        id is the version ordinal, monotone across the table's life."""
        _, n = self._snap.current()
        self._snap.publish(n + 1, df.write.parquet)

    # -- S2: insert-or-replace by key (keep-last) ---------------------------

    def upsert_keep_last(self, batch: DataFrame) -> None:
        """MERGE: for each key, the highest-``order_col`` row wins — across
        the existing table AND the batch (so replays are no-ops)."""
        order = self.order_col or self.key
        existing = self.read()
        unioned = batch if existing is None else existing.unionByName(batch)
        w = Window.partitionBy(self.key).orderBy(F.col(order).desc())
        merged = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        self._replace_with(merged)

    # -- M6: insert-if-absent (idempotent insert) ---------------------------

    def insert_if_absent(self, batch: DataFrame) -> None:
        """Append only keys not present yet; first occurrence wins within the
        batch (dedup) — the ``IsDup ⇒ ok`` unique-index semantics."""
        self._replace_with(self.with_absent(batch))

    def with_absent(self, batch: DataFrame) -> DataFrame:
        """The insert-if-absent merge as a plan, uncommitted: the table's
        rows plus the batch's first occurrence of every key the table does
        not hold yet."""
        order = self.order_col or self.key
        w = Window.partitionBy(self.key).orderBy(F.col(order).asc())
        deduped = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        existing = self.read()
        if existing is None:
            return deduped
        fresh = deduped.join(
            existing.select(self.key), on=self.key, how="left_anti"
        )
        return existing.unionByName(fresh)

    # -- foreachBatch adapters ---------------------------------------------

    def foreach_batch_upsert(self):
        def handler(batch_df: DataFrame, batch_id: int) -> None:
            self.upsert_keep_last(batch_df)

        return handler

    def foreach_batch_insert_if_absent(self):
        def handler(batch_df: DataFrame, batch_id: int) -> None:
            self.insert_if_absent(batch_df)

        return handler


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
