"""End-to-end notifications consumer: stream → render → idempotent sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark.operators.notifications import notify_render
from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
from boletia_kubernetes_kafka_mongodb_spark.streaming import notify, sinks
from tests.conftest import SF_SMOKE


def _run(spark, table, path, ckpt, max_files):
    """Drain the files at ``path`` through the notifications sink under
    checkpoint ``ckpt`` (``max_files`` files a trigger; None: all)."""
    msgs = cdc_stream.read_message_stream(spark, path, max_files_per_trigger=max_files)
    q = (
        notify.render_notifications_stream(msgs)
        .writeStream.foreachBatch(
            sinks.durable_handler(table, notify.notifications_update, None)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _keys(df):
    return sorted(r.notif_key for r in df.select("notif_key").distinct().collect())


def _uncommit_last_batch(ckpt):
    """Make a restart of ``ckpt`` redeliver its last batch: drop the
    batch's commit marker, as a crash between the effect and the offset
    commit leaves it."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    return last


def test_notify_stream_replay_idempotent_and_matches_batch(spark, tmp_path):
    log = cdc_stream.build_message_log(spark, SF_SMOKE)  # includes ~5% dups
    path = str(tmp_path / "msgs")
    cdc_stream.write_stream_fixture(log, path, n_files=4)

    table = sinks.DurableTable(spark, str(tmp_path / "notifications"))

    def run(ckpt):
        _run(spark, table, path, str(tmp_path / ckpt), max_files=2)

    run("ckpt1")
    state1 = sorted(
        (r.notif_key, r.subject, r.body) for r in table.read().collect()
    )
    # replay the WHOLE stream from scratch (fresh checkpoint = new consumer
    # group reading from 0) → table state unchanged (invariant vi)
    run("ckpt2")
    state2 = sorted(
        (r.notif_key, r.subject, r.body) for r in table.read().collect()
    )
    assert state1 == state2

    # the streaming render agrees with the batch S8 operator on body text
    batch = {
        (r.reserva_id, r.subject): r.body
        for r in notify_render(spark, SF_SMOKE).collect()
    }
    stream_rows = table.read().collect()
    assert len(stream_rows) > 0
    for r in stream_rows:
        assert batch[(r.reserva_id, r.subject)] == r.body

    # dedup key uniqueness: one notification per (reserva, estado)
    n = table.read().count()
    assert table.read().select("notif_key").distinct().count() == n


def test_notify_fresh_checkpoint_over_filled_table_folds_new_rows(spark, tmp_path):
    """A fresh checkpoint over a table that an earlier checkpoint filled is
    a new consumer group, not a replay. Checkpoint 2 drains old and new
    files as ITS batch 0, an id checkpoint 1 also committed; the new rows
    must land (a gate on the batch id alone would drop them). A restart
    of checkpoint 1 that redelivers its last committed batch leaves the
    table as it was."""
    log = cdc_stream.build_message_log(spark, SF_SMOKE)
    cut = log.agg(F.percentile_approx("seq", 0.5)).first()[0]
    old, new = log.where(F.col("seq") <= cut), log.where(F.col("seq") > cut)
    path = str(tmp_path / "msgs")
    table = sinks.DurableTable(spark, str(tmp_path / "notifications"))
    ckpt1, ckpt2 = str(tmp_path / "ckpt1"), str(tmp_path / "ckpt2")

    cdc_stream.write_ordered_files(old, path, n_files=2)
    _run(spark, table, path, ckpt1, max_files=1)
    assert _keys(table.read()) == _keys(notify.render_notifications_stream(old))

    cdc_stream.write_ordered_files(new, path, n_files=2)
    _run(spark, table, path, ckpt2, max_files=None)
    want = _keys(notify.render_notifications_stream(log))
    assert len(want) > len(_keys(notify.render_notifications_stream(old)))
    assert _keys(table.read()) == want

    _uncommit_last_batch(ckpt1)
    _run(spark, table, path, ckpt1, max_files=1)
    assert _keys(table.read()) == want
    assert table.read().count() == len(want)


def test_notify_redelivered_batch_leaves_store_untouched(spark, tmp_path):
    """A restart that redelivers a committed batch under its id folds
    nothing: the store's pointer and directory listing are unchanged."""
    log = cdc_stream.build_message_log(spark, SF_SMOKE)
    path = str(tmp_path / "msgs")
    cdc_stream.write_stream_fixture(log, path, n_files=2)
    table = sinks.DurableTable(spark, str(tmp_path / "notifications"))
    ckpt = str(tmp_path / "ckpt")
    _run(spark, table, path, ckpt, max_files=1)

    def snapshot():
        with open(os.path.join(table.path, "CURRENT")) as f:
            return f.read(), sorted(os.listdir(table.path))

    before = snapshot()
    assert _uncommit_last_batch(ckpt) == 1
    _run(spark, table, path, ckpt, max_files=1)
    assert snapshot() == before
