"""boletia_kubernetes_kafka_mongodb_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic PySpark (DataFrame / SQL / Catalyst / Structured
Streaming) engine providing the query and data-processing capabilities of the
reference system ``avaco2312/boletia-kubernetes-kafka-mongodb`` (an
event-driven Go/Kafka/MongoDB ticket-sales backend), re-expressed Spark-first
and extended with large-scale training-data pipeline operators (dedup,
similarity search, multimodal columns, text analysis).

Layout
------
- ``session``    — tuned SparkSession builder (AQE, arrow, shuffle sizing)
- ``tables``     — testdata loaders + the boletia domain views (eventos /
  reservas / inventario) mapped onto the TPC-H-ish fixtures per FIXTURES.md §3
- ``oracle``     — DuckDB-equivalent SQL (shared CTE prelude) for the driver's
  correctness gate
- ``operators``  — scans/filters/projections, joins, aggregations, mutation
  dataflows (batch oracle form), dedup, similarity, text, multimodal
- ``functions``  — scalar helpers (double-encoded JSON codec, hex ids,
  notification templates)
- ``sources``    — batch/stream source + sink builders (parquet catalog, Kafka
  config builders, CDC emulation)
- ``streaming``  — topic router, loop-breaker, per-key admission state,
  idempotent foreachBatch MERGE sinks
- ``plans``      — plan-inspection helpers (assert pushdown / broadcast)
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Executor workers need not be able to import this package: they get the
# driver's code by value. cloudpickle serializes every function, class and
# constant of a registered package into the closure that references it
# (cluster workers without ``--py-files``, or a driver started outside the
# repo, have no ``boletia_kubernetes_kafka_mongodb_spark`` on ``sys.path``).
# The rule this sets: an executor closure may call package functions and
# read package constants. It must never hold a package MODULE object or a
# stateful global (the ``cache`` lock, a SparkSession): that module would be
# pickled by value along with the closure, and locks or sessions do not
# pickle.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
