"""SparkSession factory with engine-wide configuration.

Single place where execution knobs are set so tests, bench, and the
driver contract all run under identical semantics.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is a local-mode default only; at
  cluster scale AQE's ``advisoryPartitionSizeInBytes`` governs the
  post-shuffle layout, so the static number matters little.
- Arrow enabled: every pandas-UDF boundary (dedup sketches, stateful
  ops, multimodal decode) moves columnar batches, not pickled rows.
- Session timezone pinned to UTC so event-time windows, date_format
  and the DuckDB oracle (UTC-naive timestamps) agree bit-for-bit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}

# The checkpoint file manager every session uses (get_spark says why)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


_MB_PER_UNIT = {"": 1, "k": 2**-10, "m": 1, "g": 2**10, "t": 2**20, "p": 2**30}


def heap_mb(memory: str) -> float | None:
    """A ``spark.driver.memory`` value in MB ("16g", "1024m", "2gb"; a
    bare number is MB, as Spark reads it), or None if unparseable."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)(b?)", memory.strip().lower())
    if not m:
        return None
    n, unit, b = m.groups()
    if not unit and b:
        return int(n) / 2**20
    return int(n) * _MB_PER_UNIT[unit]


def g1_region_option(memory: str) -> str | None:
    """The driver JVM flag that sets 4 MB G1 regions, for a heap under
    8 GB only; None otherwise.

    G1 allocates an object of half a region or more as humongous, in
    regions of its own outside the young generation, and sizes regions
    from the heap (JDK 17: 1 MB at a 1 GB heap, 2 MB at 3-4 GB, 4 MB at
    8 GB, 8 MB at 16 GB). Every task result is serialized into a fresh
    1 MB chunk, and in local[*] tasks run in this JVM, so on a small
    heap a stream of short reads was a stream of humongous allocations
    that grew the committed heap (measured at a 1 GB heap). From 8 GB
    on, G1's own regions are 4 MB or larger; forcing 4 MB there would
    make more objects humongous, not fewer, so the default is left
    alone. ``get_spark`` adds the flag only when no override sets
    ``spark.driver.extraJavaOptions`` itself.
    """
    mb = heap_mb(memory)
    if mb is None or mb >= 8 * 1024:
        return None
    return "-XX:G1HeapRegionSize=4m"


def get_spark(
    app_name: str = "gmall_realtime_flink_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Mirrors the reference's per-job env setup (e.g. the
    ``StreamExecutionEnvironment`` + ``setParallelism(4)`` preamble in
    gmall-realtime BaseLogAPP.java:43-45) as one shared factory.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    memory = os.environ.get("SPARK_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # default = cpu count (right for the driver's sf0.1 gate); the
        # env override exists for scale-tier runs (sf100: 600M-row
        # shuffles at 32 partitions are ~1 GB/partition hash-agg state
        # — start at 256 and let AQE coalesce DOWN, mirroring how a
        # cluster sets initialPartitionNum high and lets
        # advisoryPartitionSizeInBytes govern)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, not larger: an oversized heap in single-JVM local mode
        # produced multi-second G1 pauses that dwarfed sub-second plans
        # (measured: product_stats 2s steady at 16g, 3-17s jitter at 48g)
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        # Every broadcast (task binaries, each parquet scan's Hadoop
        # conf, broadcast joins) is chunked into blocks of this size,
        # and G1 allocates each block of the 4 MB default as a
        # humongous object; under concurrent dashboard reads those
        # allocations grew the JVM's committed heap. In local[*]
        # no block crosses a network, so small blocks cost nothing.
        .config("spark.broadcast.blockSize", "256k")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND
        # isnotnull(e)` for every explode and pushes it below the
        # projections, SUBSTITUTING the generator's full expression
        # tree into the filter. When e is a computed array (tokenize /
        # shingles / banding — higher-order functions outside
        # whole-stage codegen), the pushed filter re-evaluates the
        # whole pipeline per row before the projection computes it
        # again: measured 3x on the shingle kernel (explode 6.1 s ->
        # 0.44 s at sf0.1; dedup_jaccard_complete_capped 7.4 s ->
        # 1.25 s). The inferred filter is redundant by construction —
        # Generate drops empty/null inputs itself — so excluding the
        # rule cannot change results, only plans; its only upside
        # (early pruning of plain stored-column arrays below a join)
        # doesn't occur in this engine, where every hot explode is
        # over a computed array.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects by
        # default; read as long once here (catalog.load truncates ns → µs)
        # instead of mutating session conf inside a loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # streaming state: the RocksDB provider keeps large keyed state
        # (UV dedup at 100 TB scale) off-heap and spillable
        # (STATE_STORE_PROVIDERS also names the HDFS-backed one, which
        # the checkpoint recovery test runs too)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS["rocksdb"],
        )
        # Checkpoint commits. Every micro-batch writes an offset and a
        # commit log entry, and every stateful task commits its state
        # store; in the warehouse chain that durability cost outweighed
        # the compute. Two settings cut it:
        # - changelog checkpointing: a RocksDB commit writes one
        #   changelog file per store instead of uploading a metadata
        #   zip plus the new SST files (snapshots are uploaded by the
        #   background maintenance task);
        # - the FileSystem-based checkpoint file manager: the default
        #   FileContext one pays several Hadoop calls per atomic file,
        #   and Hadoop's local filesystem runs without its native
        #   library here, so each setPermission forks /usr/bin/chmod.
        # Measured on 4 vCPU: one warehouse chain (sf0.002) summed 29.0 s
        # of state-commit time with neither and 1.7 s with both, and
        # walCommit + commitOffsets + latestOffset 5.0 s -> 1.5 s; on a
        # 12-trigger aggregation over 500 keys the manager swap alone
        # took commits from 9.5-10.7 s to 3.7-5.1 s, both to 0.3-0.5 s.
        # The swap is sound because every session here is local[N] with
        # local checkpoint dirs: rename(2) is atomic, and on a local
        # filesystem the FileContext manager's no-overwrite rename is
        # itself check-then-rename (AbstractFileSystem.renameInternal),
        # the same guarantee the FileSystem manager gives.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
    )
    # Generic env-gated conf for scale-tier runs, ';'-separated k=v.
    # Motivating case: a multi-query sf100 bench in ONE JVM accumulates
    # every query's shuffle files until the driver GCs the shuffle
    # dependencies — spark.cleaner.periodicGC.interval defaults to
    # 30min, longer than the whole run, so ~50 GB of dead shuffle data
    # piled up and the 11th query died spilling ("No space left on
    # device"). SPARK_GRAFT_CONF="spark.cleaner.periodicGC.interval=60s"
    # bounds that to one query's working set. Never set by the driver's
    # sf0.1 gate.
    # (values containing ';' cannot be expressed in this format)
    overrides = {}
    for pair in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, sep, v = pair.partition("=")
        if not sep:
            raise ValueError(
                f"SPARK_GRAFT_CONF pair {pair!r} has no '='; "
                "expected ';'-separated key=value pairs"
            )
        overrides[k.strip()] = v.strip()
    overrides.update(extra_conf or {})
    region = g1_region_option(overrides.get("spark.driver.memory", memory))
    if region:
        overrides.setdefault("spark.driver.extraJavaOptions", region)
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
