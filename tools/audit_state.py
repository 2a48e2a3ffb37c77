"""Streaming state-size audit: measured bytes/rows per stateful operator.

SCALE.md argues the stateful trio's per-key state is O(1) and the
stream-stream join state is band-bounded; this tool MEASURES it: each
job runs bounded at the given sf_dir under the RocksDB provider and
the StreamingQueryProgress `stateOperators` metrics (numRowsTotal,
stateMemory / RocksDB customMetrics) are captured per operator. Output
is one JSON line per job; SCALE.md quotes the bytes-per-key numbers.

Usage: python tools/audit_state.py [sf_dir]   (default .local/sf1)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gmall_realtime_flink_spark.session import get_spark  # noqa: E402


CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def run_audited(stream_df, spark) -> list[dict]:
    """Run bounded; return the union of stateOperators entries seen.

    The query runs with RocksDB changelog checkpointing off (the
    session's setting is restored afterwards): a changelog commit does
    not flush the memtable, so rocksdbSstFileSize would read 0; a
    snapshot commit flushes every batch's state into SST files, which
    is what the bytes-per-row figures measure."""
    name = f"audit_{uuid.uuid4().hex[:10]}"
    saved = spark.conf.get(CHANGELOG_CONF)
    spark.conf.set(CHANGELOG_CONF, "false")
    try:
        q = (
            stream_df.writeStream.format("noop")
            .outputMode("append")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(CHANGELOG_CONF, saved)
    ops: dict[int, dict] = {}
    for p in q.recentProgress:
        for i, so in enumerate(p.get("stateOperators", []) or []):
            cur = ops.setdefault(i, {})
            # keep the batch with the most state rows (the loaded state)
            if so.get("numRowsTotal", 0) >= cur.get("numRowsTotal", -1):
                ops[i] = so
    return [ops[i] for i in sorted(ops)]


def summarize(name: str, ops: list[dict]) -> dict:
    out = {"job": name, "operators": []}
    for so in ops:
        rows = so.get("numRowsTotal", 0)
        mem = so.get("stateMemory") or so.get("memoryUsedBytes", 0)
        cm = so.get("customMetrics", {}) or {}
        sst = cm.get("rocksdbSstFileSize", 0)
        entry = {
            "operator": so.get("operatorName", "?"),
            "state_rows": rows,
            "state_memory_bytes": mem,
            "rocksdb_sst_bytes": sst,
            "bytes_per_row": round(mem / rows, 1) if rows else None,
        }
        out["operators"].append(entry)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".local/sf1"
    spark = get_spark(app_name="audit_state")
    from gmall_realtime_flink_spark.streaming import jobs
    from gmall_realtime_flink_spark.streaming.source import stream_events
    from gmall_realtime_flink_spark.streaming.state import (
        jump_detect_stream,
        repair_is_new_stream,
        uv_dedup_stream,
    )

    audits = []

    # ST1/ST2/ST3: visitor repair (applyInPandasWithState), the UV
    # day-window aggregation and the jump session window
    for name, build in (
        ("uv_dedup", lambda e: uv_dedup_stream(e, key="user_id")),
        ("visitor_repair", lambda e: repair_is_new_stream(e, key="user_id")),
        (
            "user_jump",
            lambda e: jump_detect_stream(e, key="user_id", gap_ms=600_000),
        ),
    ):
        path = jobs.events_with_sentinel(spark, sf_dir, gap_ms=600_000)
        events = stream_events(spark, path)
        audits.append(summarize(name, run_audited(build(events), spark)))

    # windowed aggregate state (A1 tumble)
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    path = jobs.events_with_sentinel(spark, sf_dir, gap_ms=0)
    events = stream_events(spark, path)
    agg = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("pv_ct")],
    )
    audits.append(summarize("tumble_agg_10s", run_audited(agg, spark)))

    # ST4: stream-stream interval join state (orders x lineitem)
    dirs = [
        jobs.stage_table_dir(sf_dir, "orders"),
        jobs.stage_table_dir(sf_dir, "lineitem"),
    ]
    joined = jobs.order_wide(*jobs.fact_streams(spark, sf_dir, *dirs)).select(
        "o_orderkey", "l_linenumber"
    )
    audits.append(summarize("interval_join_30d", run_audited(joined, spark)))

    for a in audits:
        print(json.dumps(a), flush=True)


if __name__ == "__main__":
    main()
