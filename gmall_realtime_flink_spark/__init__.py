"""gmall_realtime_flink_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the reference real-time warehouse
(codejiwei/gmall-realtime-flink, a DAG of 8 Flink streaming jobs plus a
dashboard publisher) as an idiomatic Apache Spark engine:

- the warehouse chain (streaming/topology.py) runs the ODS -> DWD ->
  DWM -> DWS jobs as Structured Streaming queries over durable layer
  directories, and the publisher's reads (plans/) query its tables;
- batch + streaming share one set of pure ``DataFrame -> DataFrame``
  transformation functions (operators/), so every pipeline is testable
  against a SQL oracle in batch mode and runnable under Structured
  Streaming with identical semantics;
- dimension stores (HBase/Phoenix/Redis in the reference) are replaced
  by parquet dim tables + broadcast hash joins;
- the Flink keyed-state trio (visitor repair / UV dedup / CEP bounce)
  has window-function batch analogues (operators/stateful.py) and
  streaming forms (streaming/state.py): UV dedup and bounce detection
  are built-in JVM aggregations (a watermarked day window, a session
  window), visitor repair is ``applyInPandasWithState``; pytest parity
  asserts hold the two forms equal on bounded input;
- beyond the reference surface, batch training-data curation reads
  (plans/datapipe.py) are registry entries too: dedup (exact /
  MinHash-LSH banded / n-gram Jaccard — operators/dedup.py) and
  similarity search (brute-force cosine top-k + sign-bucketed ANN —
  operators/similarity.py).

Scale design notes live in docstrings next to each operator and in
``SCALE.md`` at the repo root.
"""

__version__ = "0.1.0"
