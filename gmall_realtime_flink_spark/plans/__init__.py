"""Query plan registry.

Every warehouse read — the publisher's reads over the DWS layer
(gmall), the TPC-H-style OLAP reads (olap) and the streaming jobs run
to completion (streaming_jobs) — and every batch curation read
(datapipe: dedup and similarity) is exposed as a named
`QuerySpec`: a PySpark builder `(spark, sf_dir) -> DataFrame` and an
equivalent DuckDB oracle SQL string over the same parquet tables. The driver contract
(`__spark_entry__.py`) and the local test harness
(`tests/test_oracle.py`) both consume this registry.
"""

from __future__ import annotations

from gmall_realtime_flink_spark.plans.registry import REGISTRY, QuerySpec, register

# importing the modules populates REGISTRY
from gmall_realtime_flink_spark.plans import gmall  # noqa: E402,F401
from gmall_realtime_flink_spark.plans import datapipe  # noqa: E402,F401
from gmall_realtime_flink_spark.plans import streaming_jobs  # noqa: E402,F401
from gmall_realtime_flink_spark.plans import olap  # noqa: E402,F401

__all__ = ["REGISTRY", "QuerySpec", "register"]
