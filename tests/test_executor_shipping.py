"""Executor workers that cannot import the package still run its closures.

The package registers itself with cloudpickle for by-value pickling (see
the package ``__init__``), so a UDF or fold that calls package functions
ships those functions inside the closure. This test proves it the way a
cluster would break it: one subprocess driver whose cwd is a temp dir,
with ``PYTHONPATH`` unset and the repo only on the DRIVER's ``sys.path``.
Its Python workers start in that temp dir and have no path to the
package, so any closure pickled by reference fails there with
``ModuleNotFoundError``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import REPO, SF_SMOKE

QIDS = (
    "reserve_admission_exact",
    "ext_multimodal_features",
    "ext_ann_ivf_topk",
    "ext_dedup_simhash",
    "ext_dedup_clusters",
    "ext_knn_label_transfer",
    "ext_ann_ivf_batch",
    "ext_ann_lsh_topk",
)

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})

    import duckdb
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
    from boletia_kubernetes_kafka_mongodb_spark.streaming import admission
    from tests.conftest import compare_with_oracle

    sf = {sf!r}
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("executor-shipping")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {{name}} AS SELECT * FROM '{{sf}}/{{name}}.parquet'")

    queries, oracles = entry.queries(), entry.oracle_sql()
    for qid in {qids!r}:
        compare_with_oracle(spark, con, queries[qid], oracles[qid], sf_dir=sf)
        print("OK", qid, flush=True)

    reqs = admission.request_stream_batch(spark, sf).where(
        F.col("evento") < "Evento 000040"
    )
    batch = {{
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in admission.fold_requests_batch(reqs).collect()
    }}
    cdc_stream.write_ordered_files(reqs, "reqs", n_files=3)
    stream = (
        spark.readStream.schema(reqs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet("reqs")
    )
    q = (
        admission.admission_ledger_stream(stream)
        .writeStream.format("memory")
        .queryName("ledger_out")
        .outputMode("append")
        .option("checkpointLocation", "ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {{
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in spark.sql("select * from ledger_out").collect()
    }}
    assert batch and got == batch, (len(got), len(batch))
    print("OK admission_ledger_stream", flush=True)
    spark.stop()
    """
)


def test_package_less_workers_run_package_closures(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=str(REPO), sf=SF_SMOKE, qids=QIDS))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (
        f"rc={proc.returncode}\nstdout:\n{proc.stdout[-2000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    ok = [ln.split()[1] for ln in proc.stdout.splitlines() if ln.startswith("OK ")]
    assert ok == [*QIDS, "admission_ledger_stream"]
