"""Full chained warehouse topology: every layer equals its batch oracle.

The reference's deployment is a DAG of streaming jobs handing off
through Kafka topics (SURVEY §3.1). streaming/topology.py runs that
DAG as 10 checkpointed Structured Streaming queries over staged layer
directories; this test pins that EVERY layer — both DWD splits, both
DWD fact routes, all four DWM outputs, all four DWS outputs — is
row-identical to the corresponding batch computation on the source
tables. This is the equality the reference never tests: the layered
streaming warehouse computes exactly what one batch pass would.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.plans.registry import REGISTRY
from gmall_realtime_flink_spark.streaming import sinks
from gmall_realtime_flink_spark.streaming import topology as tp


@pytest.fixture(scope="module")
def layers(spark, sf_dir):
    return tp.warehouse_layers(spark, sf_dir)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _ms(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class _QueryLog:
    """Per streaming query: its start time and the end time of each of
    its micro-batches, as the JVM stamped them (the listener delivers
    onQueryStarted on the query's own thread and the rest later from
    the listener bus, so arrival order is not event order)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.starts: dict[str, float] = {}
        self.batch_ends: dict[str, list[float]] = {}
        self.ended = 0
        log = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, e):
                log.starts[e.name] = _ms(e.timestamp)

            def onQueryProgress(self, e):
                p = e.progress
                end = _ms(p.timestamp) + p.durationMs["triggerExecution"]
                log.batch_ends.setdefault(p.name, []).append(end)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                log.ended += 1

        self.spark = spark
        self._listener = L()
        spark.streams.addListener(self._listener)

    def close(self) -> "_QueryLog":
        """Wait until every started query's end has arrived."""
        deadline = time.monotonic() + 60
        while self.ended < len(self.starts) and time.monotonic() < deadline:
            time.sleep(0.1)
        self.spark.streams.removeListener(self._listener)
        return self


def _assert_producer_ordered(log: _QueryLog):
    """Each job's query starts after every query producing one of its
    inputs has run its last micro-batch; at least two queries overlap;
    never more than MAX_RUNNING run at once, and a query starts only
    once every query still running has finished its first micro-batch.
    A query counts as running from its start to its last batch's end —
    inside its real lifetime, so overlaps seen here are real ones."""
    span = {
        job.query: (log.starts[job.query], max(log.batch_ends[job.query]))
        for job in tp.JOBS
    }
    for job in tp.JOBS:
        for p in tp.JOBS:
            if set(p.outputs) & set(job.inputs):
                assert span[p.query][1] < span[job.query][0], (
                    p.query, job.query, span,
                )
    peak = 0
    for name, (start, _) in span.items():
        running = [q for q, (s, e) in span.items() if s <= start < e]
        peak = max(peak, len(running))
        for q in running:
            if q != name:
                assert min(log.batch_ends[q]) <= start, (name, q, span)
    assert 2 <= peak <= tp.MAX_RUNNING, (peak, span)


def test_dwd_page_log_layer_is_the_event_firehose(spark, sf_dir, layers):
    got = (
        spark.read.parquet(layers["dwd_page_log"])
        .filter(F.col("user_id") >= 0)
    )
    want = load(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    assert _rows(got, cols) == _rows(want, cols)


@pytest.mark.parametrize(
    "layer, etype", [("dwd_start_log", "signup"), ("dwd_display_log", "click")]
)
def test_dwd_side_output_layers(spark, sf_dir, layers, layer, etype):
    got = spark.read.parquet(layers[layer]).filter(F.col("user_id") >= 0)
    want = load(spark, sf_dir, "events").filter(F.col("event_type") == etype)
    cols = ["event_id", "user_id", "event_type"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dwd_fact_layers_roundtrip_the_cdc_envelope(spark, sf_dir, layers):
    oi = (
        spark.read.parquet(layers["dwd_order_info"])
        .filter(F.col("o_orderkey") >= 0)
    )
    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    assert _rows(oi, cols) == _rows(orders, cols)
    od = (
        spark.read.parquet(layers["dwd_order_detail"])
        .filter(F.col("l_orderkey") >= 0)
    )
    lineitem = load(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"]
    assert _rows(od, cols) == _rows(lineitem, cols)


def test_dwm_unique_visit_layer(spark, sf_dir, layers):
    from gmall_realtime_flink_spark.operators.stateful import uv_dedup

    got = (
        spark.read.parquet(layers["dwm_unique_visit"])
        .filter(F.col("user_id") >= 0)
    )
    want = uv_dedup(load(spark, sf_dir, "events"), key="user_id", ts_col="ts")
    cols = ["user_id", "visit_date", "first_ts"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dwm_user_jump_layer(spark, sf_dir, layers):
    from gmall_realtime_flink_spark.operators.stateful import jump_detect

    got = (
        spark.read.parquet(layers["dwm_user_jump"])
        .filter(F.col("user_id") >= 0)
    )
    want = jump_detect(
        load(spark, sf_dir, "events"), key="user_id", ts_col="ts",
        gap_ms=tp.JUMP_GAP_MS,
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("jump_ts"),
    )
    cols = ["event_id", "user_id", "jump_ts"]
    assert _rows(got, cols) == _rows(want, cols)


@pytest.mark.parametrize(
    "layer, batch_name, key_col",
    [
        ("dwm_order_wide", "order_wide", "o_orderkey"),
        ("dwm_payment_wide", "payment_wide", "o_orderkey"),
    ],
)
def test_dwm_wide_layers(spark, sf_dir, layers, layer, batch_name, key_col):
    got = spark.read.parquet(layers[layer]).filter(F.col(key_col) >= 0)
    want = REGISTRY[batch_name].builder(spark, sf_dir)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)


@pytest.mark.parametrize(
    "chained_name, batch_name",
    [
        ("chained_visitor_stats", "visitor_stats_union"),
        ("chained_product_stats", "product_stats_union"),
        ("chained_province_stats", "province_stats_sql"),
        ("chained_keyword_stats", "keyword_stats_sql"),
    ],
)
def test_dws_outputs_match_batch_forms(
    spark, sf_dir, layers, chained_name, batch_name
):
    got = getattr(tp, chained_name)(spark, sf_dir)
    want = REGISTRY[batch_name].builder(spark, sf_dir)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)


def test_every_topology_job_is_checkpointed(layers):
    base = os.path.dirname(layers["dwd_page_log"])
    jobs = sorted(os.listdir(os.path.join(base, "ckpt")))
    assert jobs == sorted(
        [
            "base_log_app",
            "base_db_app",
            "unique_visit_app",
            "user_jump_app",
            "order_wide_app",
            "payment_wide_app",
            "visitor_stats_app",
            "product_stats_app",
            "province_stats_app",
            "keyword_stats_app",
        ]
    )
    for j in jobs:
        # a committed offsets log is what makes each job restartable
        assert os.path.isdir(os.path.join(base, "ckpt", j, "offsets")), j


def test_topology_rerun_is_idempotent(spark, sf_dir, layers):
    """Full-warehouse restart: re-running every job of the DAG against
    the SAME base (same checkpoints, same staged ODS dirs) must append
    NOTHING — each query resumes from its committed offsets, finds no
    new input, and the layers stay byte-identical in row count. This
    is the crash-restart story of the whole deployment, not one job."""
    base = os.path.dirname(layers["dwd_page_log"])
    before = {
        name: spark.read.parquet(d).count() for name, d in layers.items()
    }
    layers2 = tp.build_warehouse_layers(spark, sf_dir, base=base)
    assert layers2 == layers
    after = {
        name: spark.read.parquet(d).count() for name, d in layers2.items()
    }
    assert after == before


def test_topology_crash_between_write_and_commit(
    spark, sf_dir, layers, monkeypatch
):
    """Crash-inject the WHOLE DAG at its weakest point: a layer job is
    killed after its parquet data committed but before the streaming
    checkpoint committed the source offset (the at-least-once window).
    On restart the micro-batch is replayed; the batch_id dir overwrite
    must replace the orphaned data instead of
    appending a duplicate, and every downstream layer must come out
    identical to a clean run — the whole-topology effectively-once
    claim, previously only tested per-sink and for clean restarts."""
    dws = (
        "dws_visitor_stats",
        "dws_product_stats",
        "dws_province_stats",
        "dws_keyword_stats",
    )

    def dws_rows(layer_dirs):
        return {
            layer: sorted(
                map(
                    tuple,
                    spark.read.parquet(layer_dirs[layer])
                    .drop("batch_id")
                    .collect(),
                )
            )
            for layer in dws
        }

    want = dws_rows(layers)  # clean-run reference from the fixture

    base = tempfile.mkdtemp(prefix="warehouse_crash_")
    state = {"detonated": False}

    def bomb(out_dir, batch_id):
        # detonate ONCE, on the first order_wide batch: the data for
        # this batch is already durable in the layer; raising before
        # foreachBatch returns means its offset is never committed
        if not state["detonated"] and out_dir.endswith("dwm_order_wide"):
            state["detonated"] = True
            raise RuntimeError(
                "injected crash between parquet write and offset commit"
            )

    threads = set(threading.enumerate())
    monkeypatch.setattr(sinks, "FAULT_AFTER_WRITE", bomb)
    with pytest.raises(Exception):
        tp.build_warehouse_layers(spark, sf_dir, base=base)
    monkeypatch.undo()
    assert state["detonated"], "fault hook never fired"
    # the build stopped whatever else of the run was running: neither a
    # query nor a thread of the failed run is left
    assert not {j.query for j in tp.JOBS} & {q.name for q in spark.streams.active}
    assert set(threading.enumerate()) == threads

    # restart the DAG against the same base: completed jobs find no new
    # input; the killed job replays its uncommitted batch over its own
    # partition; downstream jobs then run for the first time
    layers2 = tp.build_warehouse_layers(spark, sf_dir, base=base)
    assert dws_rows(layers2) == want


def test_layer_batch_latency_percentiles_captured(spark, sf_dir, layers):
    """Every topology job reports its per-batch trigger latency
    distribution (p50/p95/max ms) via the StreamingQueryListener —
    wall seconds say what a layer costs, batch percentiles say what a
    consumer waits, and the 10 s-tumble SLA claim needs the latter.
    No job's stateful operators drop a row behind their watermark:
    every input arrives whole or in event-time order.
    Each of the 8 stateful jobs reports the time its state stores took
    to commit; the 2 stateless DWD jobs have no store and report 0."""
    stats = tp.LAYER_BATCH_MS
    stateless = {"base_log_app", "base_db_app"}
    expected = stateless | {
        "dwm_unique_visit",
        "dwm_user_jump",
        "dwm_order_wide",
        "dwm_payment_wide",
        "dws_visitor_stats",
        "dws_product_stats",
        "dws_province_stats",
        "dws_keyword_stats",
    }
    assert expected <= set(stats), sorted(stats)
    for job in expected:
        s = stats[job]
        assert s["n"] >= 1, (job, s)
        assert 0 < s["p50_ms"] <= s["p95_ms"] <= s["max_ms"], (job, s)
        assert s["dropped_by_watermark"] == 0, (job, s)
        if job in stateless:
            assert s["commit_ms"] == 0, (job, s)
        else:
            assert s["commit_ms"] > 0, (job, s)


def test_bulk_chain_is_producer_ordered_and_stays_in_its_base(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The bulk chain runs as a DAG of concurrent queries: a job starts
    once its inputs' producers have finished, more than one query runs
    at a time, never more than MAX_RUNNING, one of them in its first
    micro-batch. Everything a build writes
    lives under its base — the staged ODS topics included — so a build
    leaves nothing in the temp dir and deleting the base deletes the
    whole warehouse."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    base = tmp_path / "wh"
    log = _QueryLog(spark)
    try:
        tp.build_warehouse_layers(spark, sf_dir, base=str(base))
    finally:
        log.close()
    assert os.listdir(tempfile.gettempdir()) == []
    with open(base / "ods.json") as f:
        ods = json.load(f)
    assert all(p.startswith(str(base / "ods") + os.sep) for p in ods.values())
    _assert_producer_ordered(log)


def test_bulk_chain_plans_have_no_python_node(spark, sf_dir, tmp_path):
    """No job's query — its transform and each output layer's route —
    has a Python-evaluated node, so the chain starts no Python worker."""
    python = re.compile(
        r"FlatMapGroupsInPandasWithState|MapInArrow|MapInPandas"
        r"|ArrowEvalPython|BatchEvalPython"
    )
    run = tp._Run(spark, sf_dir, str(tmp_path))
    for job in tp.JOBS:
        stream = job.transform(run, *[run.stream(n) for n in job.inputs])
        for layer in job.outputs:
            out = stream if job.route is None else job.route(run, stream, layer)
            run.schemas[layer] = out.schema
            os.makedirs(run.dir(layer), exist_ok=True)
            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "extended"
            )
            assert "Physical Plan" in plan, plan
            assert not python.search(plan), (job.query, layer, plan)
