"""The full chained warehouse topology as ONE checkpointed streaming
application (SURVEY §3.1).

The reference's deployment shape is a DAG of independent Flink jobs
wired through Kafka topics, organized in warehouse layers::

    ODS  ods_base_log / ods_base_db_m          (Kafka)
    DWD  BaseLogAPP   (RT/app/dwd/BaseLogAPP.java:61-193: 3-way split)
         BaseDBApp    (RT/app/dwd/BaseDBApp.java:63-113: CDC routing)
    DWM  UniqueVisitApp (RT/app/dwm/UniqueVisitApp.java:56-124)
         UserJumpApp    (RT/app/dwm/UserJumpApp.java:88-158)
         OrderWideApp   (RT/app/dwm/OrderWideApp.java:140-152)
         PaymentWideApp (RT/app/dwm/PaymentWideApp.java:116-131)
    DWS  VisitorStatsApp / ProductStatsApp / ProvinceStatsSqlApp /
         KeywordStatsApp (RT/app/dws/*.java)

Each inter-job boundary is a durable replayable log: job N+1 consumes
job N's OUTPUT TOPIC, never its internal state (e.g.
UniqueVisitApp.java:56-58 consuming BaseLogAPP's dwd_page_log). Here
every job is a checkpointed Structured Streaming query and every topic
is a staged parquet directory — the file-source analogue of a replayed
topic (streaming/source.py) — so the whole 10-query DAG runs
end-to-end with real layer handoffs: the DWM jobs readStream from the
DWD sink directories, the DWS jobs from the DWM ones.

Boundedness: the ODS sources carry far-future sentinel rows
(streaming/jobs.py events_with_sentinel) which FLOW THROUGH the layers
— a sentinel event in dwd_page_log advances the DWM consumers'
watermarks, the sentinel user's UV row advances the DWS consumers' —
so every real window closes and every real timeout fires in each layer
without reaching around the layer boundary. The two operators that
swallow their sentinel — UserJumpApp (the sentinel user's last event is
never followed, so its timeout never fires) and UniqueVisitApp (the
sentinel's day window never closes) — get an explicit sentinel row
appended to their output layer (_seal), the same pattern a production
deployment expresses with watermark idleness timeouts.

Execution: like the reference's independently deployed jobs, the
queries run concurrently in one application. A job's query starts
once every job producing one of its inputs has finished, at most
MAX_RUNNING at once and only one of them in its first micro-batch
(_run_jobs). Every operator is a JVM one — no job starts a Python
worker.

Every layer is oracle-checked: the pytest topology test asserts each
DWD/DWM layer row-equals its batch operator and each DWS output
hash-matches its registered batch query; the `chained_*` registry
entries run the DWS outputs against the SAME DuckDB oracles as the
batch forms.

Scale notes: the layer handoff pattern is exactly the 1000-executor
deployment shape — each query scales independently (its own shuffle
partitioning, its own state store), and the durable boundary decouples
producer/consumer failure domains. Nothing here is test-only scaffolding
except the sentinel staging.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import tempfile
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from gmall_realtime_flink_spark.catalog import load, parquet_schema, table_path
from gmall_realtime_flink_spark.streaming import jobs
from gmall_realtime_flink_spark.streaming.jobs import SENTINEL_CUTOFF
from gmall_realtime_flink_spark.streaming.sinks import idempotent_batch_writer
from gmall_realtime_flink_spark.streaming.source import stream_events
from gmall_realtime_flink_spark.streaming.state import (
    jump_detect_stream,
    uv_dedup_stream,
)

JUMP_GAP_MS = 600_000

# At most this many of one run's queries run at once, and only one of
# them in its first micro-batch (_run_jobs). Chosen by measurement;
# README "Warehouse chain" has the numbers.
MAX_RUNNING = 2
_POLL_S = 0.05  # how often the driver loop polls the run's queries


# Per-batch trigger latency percentiles per topology job from the most
# recent run (job name -> {n, p50_ms, p95_ms, max_ms, components,
# dropped_by_watermark, commit_ms}). Wall seconds say what a layer
# COSTS; batch percentiles say what a consumer WAITS. Captured by a
# StreamingQueryListener (onQueryProgress), the same numbers the Spark
# UI's structured-streaming page reports.
LAYER_BATCH_MS: dict[str, dict] = {}


def _percentiles(samples: list[float]) -> dict:
    s = sorted(samples)
    idx = lambda q: s[min(len(s) - 1, int(q * len(s)))]  # noqa: E731
    return {
        "n": len(s),
        "p50_ms": idx(0.50),
        "p95_ms": idx(0.95),
        "max_ms": s[-1],
    }


class _BatchLatencyListener:
    """Collects per-query trigger-execution durations, the rows each
    query's stateful operators dropped as late and the time they took
    to commit their state stores. Defined without
    inheriting StreamingQueryListener at import time so importing this
    module never requires an active Spark context; `attach` builds the
    real listener lazily."""

    def __init__(self) -> None:
        self.durations: dict[str, list[float]] = {}
        # per-query per-batch durationMs component samples
        # (queryPlanning / addBatch / walCommit / latestOffset /
        # commitOffsets / getBatch) — the breakdown that says whether
        # a slow micro-batch is COMPUTE (addBatch) or per-trigger
        # FIXED cost (everything else)
        self.components: dict[str, dict[str, list[float]]] = {}
        # stateOperators[].numRowsDroppedByWatermark summed per query:
        # a row behind its operator's watermark is lost silently
        self.dropped: dict[str, int] = {}
        # stateOperators[].commitTimeMs summed per query: the time its
        # stateful tasks spent committing their state stores
        self.commit_ms: dict[str, float] = {}
        # query id -> (Python thread, gateway connection) its
        # onQueryStarted ran on: Spark calls it on the query's own
        # execution thread, whose foreachBatch calls share the
        # connection (_release_query_thread)
        self.query_threads: dict[str, tuple] = {}
        self._listener = None

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        client = spark.sparkContext._gateway._gateway_client
        connection = getattr(client, "get_thread_connection", lambda: None)

        class L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                outer.query_threads[str(event.id)] = (
                    threading.current_thread(), connection()
                )

            def onQueryProgress(self, event) -> None:
                p = event.progress
                name = p.name
                dur = p.durationMs or {}
                ms = dur.get("triggerExecution")
                if name and ms is not None:
                    outer.durations.setdefault(name, []).append(float(ms))
                    comp = outer.components.setdefault(name, {})
                    for k, v in dur.items():
                        comp.setdefault(k, []).append(float(v))
                    outer.dropped[name] = outer.dropped.get(name, 0) + sum(
                        op.numRowsDroppedByWatermark for op in p.stateOperators
                    )
                    outer.commit_ms[name] = outer.commit_ms.get(name, 0) + sum(
                        op.commitTimeMs for op in p.stateOperators
                    )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = L()
        spark.streams.addListener(self._listener)

    def detach_into(self, spark: SparkSession, out: dict) -> None:
        # listener delivery is async — wait for the event stream to
        # drain (stable sample count across one poll interval)
        prev = -1
        for _ in range(20):
            cur = sum(len(v) for v in self.durations.values())
            if cur == prev:
                break
            prev = cur
            time.sleep(0.25)
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
        # merge per job (latest run wins per key) rather than clear:
        # a restart run against an already-built base processes no new
        # data for completed jobs and must not erase their stats
        out.update(
            {
                name: {
                    **_percentiles(ms),
                    # where each trigger spent its time: addBatch is
                    # the batch's actual compute+write; the rest is
                    # per-trigger fixed cost (planning, offset WAL,
                    # source listing)
                    "components": {
                        k: _percentiles(v)
                        for k, v in self.components.get(name, {}).items()
                    },
                    "dropped_by_watermark": self.dropped.get(name, 0),
                    "commit_ms": self.commit_ms.get(name, 0),
                }
                for name, ms in self.durations.items()
            }
        )


# ----------------------------------------------------------------------
# One run of the chain: where its layers live and the schema each
# producer wrote.
# ----------------------------------------------------------------------

# The event time a layer's consumers watermark on (the fact layers'
# consumers derive theirs in the transform, jobs.order_wide & co.)
_EVENT_TIME = {
    "dwd_page_log": "ts",
    "dwm_unique_visit": "first_ts",
    "dwm_user_jump": "jump_ts",
}


class _Run:
    """Per-run state of build_warehouse_layers. One replay contract:
    each ODS fact table is one file plus its sentinel, and every
    consumer takes whatever its input holds — fewest, largest
    micro-batches, lowest total cost. Event-time disorder is left to
    the operators' watermarks and state."""

    def __init__(self, spark: SparkSession, sf_dir: str, base: str) -> None:
        self.spark, self.sf_dir, self.base = spark, sf_dir, base
        self.schemas = {
            f"ods_{topic}": jobs.warehouse_stream_schema(spark, sf_dir, table)
            for topic, table in (
                ("order_info", "orders"),
                ("order_detail", "lineitem"),
            )
        }
        self.stopping = threading.Event()  # set once _run_jobs winds down
        self.ods = self._stage_ods()

    def dir(self, layer: str) -> str:
        return os.path.join(self.base, layer)

    def _stage_ods(self) -> dict[str, str]:
        """ODS staging dirs must be STABLE across restarts: the
        file-source checkpoints record which files were consumed, so a
        restart must see the SAME source directories (a fresh staging
        dir would look like all-new data and replay everything). ALL
        ODS dirs are staged under `<base>/ods/` and recorded in
        `ods.json` atomically BEFORE any streaming job starts, so an
        absent record proves no job has ever run against this base —
        re-staging from scratch is then always safe. Deleting the base
        deletes the whole warehouse. Sentinel key -1 on both fact
        tables: the two sentinels join into one far-future wide row
        that keeps the DWM layers' event-time horizon at 2030."""
        record = os.path.join(self.base, "ods.json")
        if os.path.exists(record):
            with open(record) as f:
                return json.load(f)
        root = os.path.join(self.base, "ods")
        shutil.rmtree(root, ignore_errors=True)
        ods = {
            topic: os.path.join(root, topic)
            for topic in ("log", "order_info", "order_detail")
        }
        for d in ods.values():
            os.makedirs(d)
        jobs.fill_events_dir(ods["log"], self.sf_dir, gap_ms=JUMP_GAP_MS)
        for topic, table in (("order_info", "orders"), ("order_detail", "lineitem")):
            jobs.fill_table_dir(ods[topic], self.sf_dir, table)
        with open(record + ".tmp", "w") as f:
            json.dump(ods, f)
        os.replace(record + ".tmp", record)
        return ods

    def stream(self, name: str) -> DataFrame:
        """A job's input as a stream: an ODS topic (`ods_*`) or an
        upstream layer, read with the schema its producer wrote —
        known without probing footers, like a topic's registered
        schema."""
        spark = self.spark
        if name == "ods_log":
            return stream_events(
                spark,
                self.ods["log"],
                max_files_per_trigger=1,
                raw_schema=parquet_schema(
                    spark, table_path(self.sf_dir, "events")
                ),
            )
        if name.startswith("ods_"):
            return spark.readStream.schema(self.schemas[name]).parquet(
                self.ods[name[len("ods_"):]]
            )
        df = (
            spark.readStream.schema(
                T.StructType(
                    [
                        *self.schemas[name].fields,
                        T.StructField("batch_id", T.LongType()),
                    ]
                )
            )
            .parquet(self.dir(name))
            .drop("batch_id")
        )
        ts = _EVENT_TIME.get(name)
        if ts is not None and ts != "ts":
            df = df.withColumn("ts", F.to_timestamp(ts))
        return df if ts is None else df.withWatermark("ts", "0 seconds")

    def write(self, layer: str, df: DataFrame, batch_id: int) -> None:
        """Effectively-once layer write through the idempotent batch
        writer: foreachBatch is at-least-once (a crash between the
        parquet write and the offset commit replays the micro-batch),
        so a replayed batch overwrites its OWN `batch_id=N` dir instead
        of appending duplicates."""
        idempotent_batch_writer(self.dir(layer))(df, batch_id)

    def seed(self, layer: str) -> None:
        """A layer that saw ZERO batches (empty upstream) must still be
        schema-probeable by its consumers — a Kafka topic with no
        messages still has a schema. Leave one zero-row footer-only
        file under a reserved `batch_id=-2` dir, the layout every batch
        write produces (a root-level bare file would conflict with
        partition discovery)."""
        d = self.dir(layer)
        if not any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            empty = self.spark.createDataFrame([], self.schemas[layer])
            self.write(layer, empty.repartition(1), -2)


# ----------------------------------------------------------------------
# The job table. Each job is one checkpointed Structured Streaming
# query: its inputs are read as streams (_Run.stream), `transform`
# builds the query, and each micro-batch lands in every output layer —
# through `route(run, batch, layer)` for a fan-out job (the reference's
# side outputs and dynamic topic sink), as-is otherwise.
# ----------------------------------------------------------------------


@dataclass(frozen=True)
class Job:
    query: str  # the streaming query's name
    ckpt: str  # checkpoint dir under <base>/ckpt
    inputs: tuple[str, ...]
    transform: Callable[..., DataFrame]  # (run, *input streams)
    outputs: tuple[str, ...]
    route: Callable[[_Run, DataFrame, str], DataFrame] | None = None
    finish: Callable[[_Run], None] | None = None  # after the query stops


# DWD BaseLogAPP side outputs (BaseLogAPP.java:141-188): page_log
# carries the full event rows (the firehose every DWM/DWS log consumer
# reads); start/display are filtered splits.
_LOG_SPLITS = {"dwd_start_log": "signup", "dwd_display_log": "click"}


def _split_log(run: _Run, batch: DataFrame, layer: str) -> DataFrame:
    etype = _LOG_SPLITS.get(layer)
    return batch if etype is None else batch.filter(F.col("event_type") == etype)


def _cdc_envelope(run: _Run, order_info: DataFrame, order_detail: DataFrame):
    """DWD BaseDBApp: the CDC stream arrives as ONE envelope topic
    ({table, data-as-JSON}, exactly Maxwell's ods_base_db_m shape,
    BaseDBApp.java:63)."""
    return order_info.select(
        F.lit("order_info").alias("table"), F.to_json(F.struct("*")).alias("data")
    ).unionByName(
        order_detail.select(
            F.lit("order_detail").alias("table"),
            F.to_json(F.struct("*")).alias("data"),
        )
    )


def _route_cdc(run: _Run, batch: DataFrame, layer: str) -> DataFrame:
    """... routed per table to the fact layers (the dynamic topic sink,
    BaseDBApp.java:96-113)."""
    table = layer[len("dwd_"):]
    schema = run.schemas[f"ods_{table}"]
    return (
        batch.filter(F.col("table") == table)
        .select(F.from_json("data", schema).alias("d"))
        .select("d.*")
    )


def _seal(layer: str, row: dict, run: _Run) -> None:
    """A job whose operator swallows its sentinel gets an explicit
    far-future row of its own under the reserved batch_id=-1, written
    after every real batch. UserJumpApp: the sentinel
    user's last event is never followed, so no watermark ever passes its
    timeout. UniqueVisitApp: the sentinel's day window never closes. A
    one-row pyarrow file: a Spark job here would cost the chain ~2 s."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    part = os.path.join(run.dir(layer), "batch_id=-1")
    path = os.path.join(part, "part-sentinel.parquet")
    if os.path.exists(path):
        return
    os.makedirs(part, exist_ok=True)
    schema = to_arrow_schema(run.schemas[layer])
    pq.write_table(pa.Table.from_pylist([row], schema=schema), path)


_SENTINEL_TS = "2030-01-01 00:00:00"


def _visitor_stats(run: _Run, page, uv, uj) -> DataFrame:
    """DWS VisitorStatsApp: the U2 4-stream union consumed FROM THE
    LAYERS — pv/sv from dwd_page_log, uv from dwm_unique_visit, uj from
    dwm_user_jump (VisitorStatsApp.java:80-141) — then the 10 s keyed
    tumble (:156-196). Watermark = min over the four inputs; every
    input's sentinel rides at 2030 so it never stalls."""
    from gmall_realtime_flink_spark.functions.compat import dec_sum
    from gmall_realtime_flink_spark.operators.union import (
        project_to_skeleton,
        union_streams,
    )
    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    def skel(df: DataFrame, **slots) -> DataFrame:
        skeleton = {"ts": F.col("ts")}
        for c in ("pv_ct", "uv_ct", "sv_ct", "uj_ct"):
            skeleton[c] = slots.get(c, F.lit(0))
        skeleton["dur"] = slots.get("dur", F.lit(0.0))
        return project_to_skeleton(df, skeleton)

    one = F.lit(1)
    branches = [
        skel(page.filter(F.col("event_type") == "view"), pv_ct=one, dur=F.col("value")),
        skel(uv, uv_ct=one),
        skel(page.filter(F.col("event_type") == "signup"), sv_ct=one),
        skel(uj, uj_ct=one),
    ]
    counts = [F.sum(c).alias(c) for c in ("pv_ct", "uv_ct", "sv_ct", "uj_ct")]
    return tumble_agg(
        union_streams(branches),
        ts_col="ts",
        duration="10 seconds",
        keys=[],
        aggs=[*counts, dec_sum("dur").alias("dur_sum")],
    ).select("stt", "edt", "pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum")


def _product_stats(run: _Run, page: DataFrame) -> DataFrame:
    """DWS ProductStatsApp: the U1 7-branch union pipeline over the
    page_log layer (ProductStatsApp.java:241-316)."""
    from gmall_realtime_flink_spark.plans.gmall import product_stats_union_core

    return product_stats_union_core(page)


def _province_stats(run: _Run, order_info: DataFrame) -> DataFrame:
    """DWS ProvinceStatsSqlApp: the Flink-SQL app shape over the
    dwd_order_info layer (ProvinceStatsSqlApp.java:45-61) — a
    watermarked stream bound as a view, day-tumble SQL agg with
    streaming-safe exact distinct, static dims broadcast-joined."""
    oi = order_info.withColumn(
        "o_ts", jobs.ts_as_timestamp(order_info.schema, "o_orderdate")
    ).withWatermark("o_ts", "0 seconds")
    return run.spark.sql(
        """
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               n.n_name AS province_name,
               CAST(size(collect_set(o.o_orderkey)) AS BIGINT)
                 AS order_count,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)
                    AS DOUBLE) AS order_amount
        FROM {dwd_order_info} o
        JOIN {dim_customer} c ON o.o_custkey = c.c_custkey
        JOIN {dim_nation} n ON c.c_nationkey = n.n_nationkey
        GROUP BY window(o_ts, '1 day'), n.n_name
        """,
        dwd_order_info=oi,
        dim_customer=load(run.spark, run.sf_dir, "customer"),
        dim_nation=load(run.spark, run.sf_dir, "nation"),
    )


_FACTS = ("dwd_order_info", "dwd_order_detail")
_PAGE = ("dwd_page_log",)

# The 10 jobs in layer-DAG order (reference app in the comment). The
# query names key every `topology.<job>.*` perfbench metric and the
# checkpoint names are what a restart on an existing base resumes
# from: neither may change.
JOBS = (
    # DWD BaseLogAPP (RT/app/dwd/BaseLogAPP.java:61-193): 3-way split
    Job("base_log_app", "base_log_app", ("ods_log",), lambda run, ev: ev,
        ("dwd_page_log", "dwd_start_log", "dwd_display_log"), _split_log),
    # DWD BaseDBApp (RT/app/dwd/BaseDBApp.java:63-113): CDC routing
    Job("base_db_app", "base_db_app", ("ods_order_info", "ods_order_detail"),
        _cdc_envelope, _FACTS, _route_cdc),
    # DWM UniqueVisitApp (UniqueVisitApp.java:56-124): ST2 day-window
    # dedup; the sealed sentinel UV row (visit 2030) drives DWS
    Job("dwm_unique_visit", "unique_visit_app", _PAGE,
        lambda run, page: uv_dedup_stream(page, key="user_id"),
        ("dwm_unique_visit",),
        finish=partial(_seal, "dwm_unique_visit", {
            "user_id": -1, "visit_date": _SENTINEL_TS[:10],
            "first_ts": _SENTINEL_TS,
        })),
    # DWM UserJumpApp (UserJumpApp.java:88-158): CEP bounce with
    # event-time timeout, as a session window per user
    Job("dwm_user_jump", "user_jump_app", _PAGE,
        lambda run, page: jump_detect_stream(
            page, key="user_id", gap_ms=JUMP_GAP_MS
        ),
        ("dwm_user_jump",),
        finish=partial(_seal, "dwm_user_jump", {
            "event_id": -1, "user_id": -1, "jump_ts": _SENTINEL_TS,
        })),
    # DWM OrderWideApp (OrderWideApp.java:140-152): J1 band [0, 30d]
    Job("dwm_order_wide", "order_wide_app", _FACTS,
        lambda run, o, l: jobs.order_wide(o, l), ("dwm_order_wide",)),
    # DWM PaymentWideApp (PaymentWideApp.java:116-131): J2 band
    # [-7d, +90d] over the same DWD fact layers
    Job("dwm_payment_wide", "payment_wide_app", _FACTS,
        lambda run, o, l: jobs.payment_wide(o, l), ("dwm_payment_wide",)),
    Job("dws_visitor_stats", "visitor_stats_app",
        ("dwd_page_log", "dwm_unique_visit", "dwm_user_jump"),
        _visitor_stats, ("dws_visitor_stats",)),
    Job("dws_product_stats", "product_stats_app", _PAGE, _product_stats,
        ("dws_product_stats",)),
    Job("dws_province_stats", "province_stats_app", ("dwd_order_info",),
        _province_stats, ("dws_province_stats",)),
    # DWS KeywordStatsApp (KeywordStatsApp.java:56-88)
    Job("dws_keyword_stats", "keyword_stats_app", _PAGE,
        lambda run, page: jobs.keyword_stats(
            page, load(run.spark, run.sf_dir, "documents")
        ),
        ("dws_keyword_stats",)),
)


def _write_batch(run: _Run, job: Job, batch: DataFrame, batch_id: int) -> None:
    """Write one micro-batch to every output layer of `job`. A fan-out
    job persists the batch once and runs its per-layer writes as
    CONCURRENT Spark jobs (one thread each): serially, each write's
    single-task tail (a small batch's parquet encode) leaves the other
    cores idle, and the writes' compute+encode phases simply sum;
    from threads, layer B's compute overlaps layer A's encode — same
    jobs, same outputs, wall = max not sum. Exceptions re-raise in the
    caller (future.result), so foreachBatch failure semantics hold."""
    if job.route is None:
        run.write(job.outputs[0], batch, batch_id)
        return
    batch.persist()
    try:
        with ThreadPoolExecutor(max_workers=len(job.outputs)) as ex:
            futs = [
                ex.submit(run.write, layer, job.route(run, batch, layer), batch_id)
                for layer in job.outputs
            ]
            for f in futs:
                f.result()
    finally:
        batch.unpersist()


def _start(run: _Run, job: Job) -> StreamingQuery:
    """Build one job's query over its input streams and start it with
    `availableNow`: it runs over everything its inputs hold, then
    stops. start() returns at once."""
    stream = job.transform(run, *[run.stream(name) for name in job.inputs])
    for layer in job.outputs:
        out = stream if job.route is None else job.route(run, stream, layer)
        run.schemas[layer] = out.schema

    def write(batch: DataFrame, batch_id: int) -> None:
        try:
            _write_batch(run, job, batch, batch_id)
        except Exception:
            if not run.stopping.is_set():
                raise
            # stop() interrupted this batch. Spark matches the error text
            # against a backtracking regex to tell a stop from a failure,
            # and a Java stack trace in the text overflows its stack.
            raise RuntimeError(f"{job.query} stopped") from None

    return (
        stream.writeStream.foreachBatch(write)
        .queryName(job.query)
        .option("checkpointLocation", os.path.join(run.base, "ckpt", job.ckpt))
        .trigger(availableNow=True)
        .start()
    )


def _release_query_thread(query_threads: dict, q: StreamingQuery) -> None:
    """Spark's calls into Python from a query's execution thread (the
    listeners' onQueryStarted, each foreachBatch) run in one Python
    thread serving a gateway connection pinned to that JVM thread. Once
    the query has ended nothing calls it again, yet it stays open: one
    thread and socket pair per query for the life of the session. Shut
    its socket (the thread then reads end-of-stream and exits) and join
    the thread."""
    thread, conn = query_threads.pop(str(q.id), (None, None))
    sock = getattr(conn, "socket", None)
    if sock is not None:
        with contextlib.suppress(OSError):
            sock.shutdown(socket.SHUT_RDWR)
        thread.join(timeout=10)


def _run_jobs(run: _Run, query_threads: dict) -> None:
    """Run the job table as a DAG from this one driver thread. A job's
    query starts once every job producing one of its inputs has
    finished — its query, its seeded empty layers and its `finish` —
    whatever the table order, and the ready jobs start in table order.
    At most MAX_RUNNING queries run at once, and a query starts only
    when no running query is still in its first micro-batch: that batch
    carries a query's start-up and its whole bulk input, so two of them
    at once contend for every task slot (each stateful stage has one
    task per slot) and both triggers stretch, while a head overlapping
    another query's light tail (its no-data batch, stop, seeding)
    hides that tail. The loop polls only this run's own queries. If one
    fails (or fails to start), every other running query of the run is
    stopped and waited for before the first error propagates, so no
    query of the run, and no thread it ran on (_release_query_thread),
    outlives the call."""
    done: set[str] = set()  # layers whose producer has finished
    waiting = list(JOBS)
    running: dict[str, tuple[Job, StreamingQuery]] = {}
    try:
        while waiting or running:
            for job in list(waiting):
                ready = all(n.startswith("ods_") or n in done for n in job.inputs)
                if ready and len(running) < MAX_RUNNING and not any(
                    q.lastProgress is None for _, q in running.values()
                ):
                    waiting.remove(job)
                    running[job.query] = (job, _start(run, job))
            if not running:
                raise RuntimeError(f"no producer for {[j.query for j in waiting]}")
            for name, (job, q) in list(running.items()):
                if not q.isActive:
                    del running[name]
                    _release_query_thread(query_threads, q)
                    q.awaitTermination()  # re-raises the query's error
                    for layer in job.outputs:
                        run.seed(layer)
                    if job.finish is not None:
                        job.finish(run)
                    done.update(job.outputs)
            if running:
                time.sleep(_POLL_S)
    finally:
        run.stopping.set()
        for _, q in running.values():
            # the first error is what propagates; stop() blocks until
            # the query's execution thread has ended
            with contextlib.suppress(Exception):
                q.stop()
            _release_query_thread(query_threads, q)


def build_warehouse_layers(
    spark: SparkSession,
    sf_dir: str,
    base: str | None = None,
) -> dict[str, str]:
    """Run the full 10-job chained topology; returns layer name -> dir.

    The jobs run as a DAG of concurrent queries (_run_jobs): each starts
    once the producers of its inputs have finished, up to MAX_RUNNING at
    once with one in its first micro-batch. Every job has its own
    checkpoint directory, so any job can restart from its offsets
    exactly as the independent reference jobs do. Re-invoking with the
    SAME `base` is a full-warehouse restart: every job resumes from its
    committed offsets, finds no new input, and writes nothing — restart
    idempotency of the whole DAG, pinned by
    tests/test_topology.py::test_topology_rerun_is_idempotent. A
    CRASHED run is also safe to restart: every layer sink overwrites
    its own batch_id dir (_Run.write), so a micro-batch replayed after
    a crash-between-write-and-offset-commit replaces its own output
    instead of duplicating it. A failing job stops the run's other
    queries before its error propagates.

    The latency listener's detach runs in a finally so a crash mid-DAG
    (e.g. the crash-injection test) can't leave it registered on the
    shared SparkSession.
    """
    if base is None:
        base = tempfile.mkdtemp(prefix="warehouse_")
    latency = _BatchLatencyListener()
    latency.attach(spark)
    try:
        run = _Run(spark, sf_dir, base)
        _run_jobs(run, latency.query_threads)
    finally:
        latency.detach_into(spark, LAYER_BATCH_MS)
    return {layer: run.dir(layer) for job in JOBS for layer in job.outputs}


# One topology run serves all four chained DWS registry entries (the
# driver invokes each entry separately; re-running the 10-job DAG per
# entry would be 4× the work for bit-identical layers).
_LAYER_CACHE: dict[str, dict[str, str]] = {}


def warehouse_layers(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    key = os.path.abspath(sf_dir)
    if key not in _LAYER_CACHE:
        _LAYER_CACHE[key] = build_warehouse_layers(spark, sf_dir)
    return _LAYER_CACHE[key]


def _dws(spark: SparkSession, sf_dir: str, layer: str) -> DataFrame:
    out = spark.read.parquet(warehouse_layers(spark, sf_dir)[layer]).drop(
        "batch_id"
    )
    return out.filter(F.col("stt") < SENTINEL_CUTOFF)


def chained_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dws(spark, sf_dir, "dws_visitor_stats")


def chained_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dws(spark, sf_dir, "dws_product_stats")


def chained_province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dws(spark, sf_dir, "dws_province_stats")


def chained_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dws(spark, sf_dir, "dws_keyword_stats")
