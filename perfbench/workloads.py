"""The perfbench workloads: a streaming replay of the layered warehouse
and a closed-loop dashboard of the publisher's fact reads.

Each workload drives the system only through its public functions:
``session.get_spark``, ``catalog.load``, the plan registry builders,
``streaming.topology.warehouse_layers`` and ``oracle.compare_query``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import itertools
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from harness import (
    CPUS,
    ROOT,
    STATEFUL_JOBS,
    TOPOLOGY_JOBS,
    ProgressListener,
    Tracer,
    fingerprint,
    job_ids,
    median,
    peak_rss_mb,
    per_job_stats,
    percentile,
    session_conf,
    task_counts,
)

# the publisher's reads of the four DWS tables the chain writes
CHAINED = (
    "chained_visitor_stats",
    "chained_product_stats",
    "chained_province_stats",
    "chained_keyword_stats",
)
# the dashboard's reads: the ADS serving query and the ad-hoc fact queries
DASHBOARD_ENTRIES = (
    "serving_gmv",
    "province_stats_sql",
    "keyword_stats_sql",
    "product_stats",
    "visitor_stats",
    "order_wide",
)
PLAN_ENTRIES = CHAINED + DASHBOARD_ENTRIES

ODS_TABLES = ("events", "orders", "lineitem")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # tools/gen_testdata scale factor of the measured corpus
    skew: float  # share of rows collapsed onto one hot key


WORKLOADS = {
    "warehouse_steady": Workload("warehouse_steady", 0.002, 0.05),
    "dashboard_mix": Workload("dashboard_mix", 0.002, 0.05),
}


@dataclass
class Op:
    entry: str
    group: str  # the Spark job group the read ran under
    start: float
    built: float
    end: float
    rows: int = 0
    digest: str = ""
    ok: bool = False
    client: int = 0


@dataclass
class Run:
    """Everything one benchmark run owns: its session, tracer, listener
    and the counts and numbers it reports."""

    workload: Workload
    seed: int
    seconds: int
    traced: bool
    run_dir: Path
    tracer: Tracer
    spark: object = None
    listener: ProgressListener = None
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def log(self, msg: str) -> None:
        print(f"[{self.workload.name}] {msg}", file=sys.stderr, flush=True)


def _gen_testdata():
    path = ROOT / "tools" / "gen_testdata.py"
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_corpus(run: Run, name: str, sf: float, seed: int) -> str:
    """A seeded tools/gen_testdata corpus under the run directory, with
    its per-table row counts recorded in the run's output."""
    import pyarrow.parquet as pq

    out = str(run.run_dir / name)
    with contextlib.redirect_stdout(io.StringIO()):
        _gen_testdata().generate(sf, out, seed=seed, skew=run.workload.skew)
    rows = {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
        for f in sorted(os.listdir(out)) if f.endswith(".parquet")
    }
    run.info.setdefault("corpora", {})[name] = {
        "sf": sf, "seed": seed, "skew": run.workload.skew, "rows": rows,
    }
    return out


def alias_corpus(run: Run, corpus: str, tag: str) -> str:
    """Same files under another path: warehouse_layers caches one build
    per corpus path, so a second chain over the same data needs one."""
    out = run.run_dir / f"corpus_{tag}"
    out.mkdir()
    for f in os.listdir(corpus):
        os.symlink(os.path.join(corpus, f), out / f)
    return str(out)


def start_session(run: Run, cpus: int):
    from gmall_realtime_flink_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark", cpus=cpus):
        spark = get_spark(app_name="perfbench", cpus=cpus,
                          extra_conf=session_conf(run.run_dir))
        spark.sparkContext.setLogLevel("ERROR")
    run.layer.setdefault("session.get_spark_ms", (time.perf_counter() - t0) * 1000)
    return spark


def run_chain(run: Run, corpus: str) -> tuple[dict, float]:
    """One call to streaming.topology.warehouse_layers; returns the layer
    dirs and the wall seconds, once every trigger event has arrived."""
    from gmall_realtime_flink_spark.streaming.topology import warehouse_layers

    run.listener.reset()
    t0 = time.perf_counter()
    with run.tracer.span("topology.warehouse_layers", corpus=corpus) as sid:
        run.listener.parent = sid
        layers = warehouse_layers(run.spark, corpus)
    wall = time.perf_counter() - t0
    run.listener.wait_drained()
    return layers, wall


def run_op(run: Run, corpus: str, entry: str, group: str) -> Op:
    """One publisher read: the registry builder, then every output row
    materialized into an order-insensitive fingerprint."""
    from gmall_realtime_flink_spark.plans import REGISTRY

    run.spark.sparkContext.setJobGroup(group, entry)
    t0 = time.perf_counter()
    with run.tracer.span("plans.build", entry=entry):
        df = REGISTRY[entry].builder(run.spark, corpus)
    t1 = time.perf_counter()
    with run.tracer.span("engine.exec", entry=entry):
        rows, digest = fingerprint(df)
    return Op(entry, group, t0, t1, time.perf_counter(), rows, digest)


def verify(run: Run, corpus: str, entries) -> None:
    """Oracle parity (DuckDB over the same parquet) for each entry,
    outside every timed region."""
    from gmall_realtime_flink_spark.oracle import compare_query
    from gmall_realtime_flink_spark.plans import REGISTRY

    t0 = time.perf_counter()
    for entry in entries:
        run.attempted += 1
        with run.tracer.span("oracle.compare_query", entry=entry):
            try:
                res = compare_query(run.spark, REGISTRY[entry], corpus)
                ok, detail = res.ok, res.detail
            except Exception:
                ok, detail = False, traceback.format_exc()
        if not ok:
            run.failed += 1
            run.log(f"oracle mismatch {entry}: {detail}")
    run.layer["oracle.check_ms"] = (time.perf_counter() - t0) * 1000


def ods_rows(run: Run, corpus: str) -> int:
    """ODS input rows (log + CDC tables), counted through catalog.load."""
    from gmall_realtime_flink_spark.catalog import load

    total = 0
    for t in ODS_TABLES:
        with run.tracer.span("catalog.load", table=t):
            total += load(run.spark, corpus, t).count()
    return total


def layer_files(layers: dict) -> int:
    return sum(
        1
        for d in layers.values()
        for _, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    )


def topology_metrics(run: Run, triggers: list[dict], layers: dict) -> None:
    per_job = per_job_stats(triggers)
    for job in TOPOLOGY_JOBS:
        stats = per_job[job]
        keys = ["triggers", "trigger_ms", "add_batch_ms", "fixed_ms",
                "input_rows"]
        if job in STATEFUL_JOBS:
            keys += ["state_rows", "state_bytes"]
        for k in keys:
            run.layer[f"topology.{job}.{k}"] = stats.get(k, 0)
    run.layer["topology.layer_files"] = layer_files(layers)


def plans_metrics(run: Run, ops: list[Op]) -> None:
    for entry in PLAN_ENTRIES:
        mine = [o for o in ops if o.entry == entry and o.ok]
        run.layer[f"plans.{entry}.build_ms"] = (
            median([(o.built - o.start) * 1000 for o in mine]) if mine else 0.0
        )
        run.layer[f"plans.{entry}.exec_ms"] = (
            median([(o.end - o.built) * 1000 for o in mine]) if mine else 0.0
        )


def plans_pass(run: Run, corpus: str, entries, tag: str) -> list[Op]:
    """One read per entry, one after another, each checked to have
    returned rows (the oracle has verified these entries by now)."""
    ops = []
    for i, entry in enumerate(entries):
        op = run_op(run, corpus, entry, f"{tag}-{i}")
        op.ok = op.rows > 0
        ops.append(op)
    return ops


def baseline(run: Run, work) -> None:
    """Single-core baseline: ``work()`` (the workload's unit of work,
    returning its wall seconds) once on the nproc session and once on a
    local[1] session of the same JVM, both after the measured work has
    warmed the JIT, so the ratio compares like with like."""
    run.listener.tracer = Tracer(False, run.tracer.run_id)
    with run.tracer.span("bench.baseline"):
        nproc = work()
        run.spark.stop()
        run.spark = start_session(run, 1)
        run.listener.attach(run.spark)
        local1 = work()
    run.layer["baseline.local1_s"] = local1
    run.layer["baseline.nproc_s"] = nproc
    run.layer["baseline.speedup"] = local1 / nproc


# span-name prefixes reported as self time (bench = the harness's own
# phases: set-up, window, clients, verification)
SELF_LAYERS = ("bench", "session", "catalog", "topology", "trigger",
               "plans", "engine", "oracle")


def _finish_traced(run: Run, work) -> None:
    run.layer.update({f"self_ms.{k}": 0.0 for k in SELF_LAYERS})
    for layer, ms in run.tracer.self_ms_by_layer().items():
        if layer in SELF_LAYERS:
            run.layer[f"self_ms.{layer}"] = ms
    # the traced run's own end-to-end numbers; minus the untraced runs'
    # medians they give the tracing overhead
    for k in ("setup_s", "rows_per_s", "ops_per_s", "latency_p50_ms"):
        run.layer[f"traced.{k}"] = run.e2e[k]
    baseline(run, work)


# ---------------------------------------------------------------------------
# warehouse_steady
# ---------------------------------------------------------------------------


def warehouse_steady(run: Run) -> None:
    """Catch-up replay of a staged backlog through the 10-job chain in
    the default (bulk) posture, the first chain the JVM runs: per-query
    start-up, per-trigger fixed cost and keyed state dominate."""
    corpus = make_corpus(run, "corpus", run.workload.sf, run.seed)

    # No warm-up chain: a chain costs ~25 s warm and ~45 s cold whatever
    # the corpus size, so a warm-up would double the run. The measured
    # replay therefore includes first-use JIT and worker start.
    t0 = time.perf_counter()
    with run.tracer.span("bench.setup"):
        run.spark = start_session(run, CPUS)
        run.listener = ProgressListener(run.tracer)
        run.listener.attach(run.spark)
    run.e2e["setup_s"] = time.perf_counter() - t0

    sc = run.spark.sparkContext
    before = job_ids(sc, [None]) if run.traced else set()
    triggers, run_ids, walls, reps = [], set(), [], 0
    t_window = time.perf_counter()
    with run.tracer.span("bench.window"):
        while True:
            src = corpus if reps == 0 else alias_corpus(run, corpus, f"rep{reps}")
            lay, wall = run_chain(run, src)
            if reps == 0:
                # per-job stats and the verified layers: the first replay
                layers, first = lay, list(run.listener.triggers)
            walls.append(wall)
            triggers += run.listener.triggers
            run_ids |= {t["run_id"] for t in run.listener.triggers}
            reps += 1
            if time.perf_counter() - t_window >= run.seconds:
                break
    run.e2e["peak_rss_mb"] = peak_rss_mb(run.spark)
    if run.traced:
        ids = (job_ids(sc, run_ids) | job_ids(sc, [None])) - before
        run.layer["engine.tasks"], run.layer["engine.failed_tasks"] = (
            task_counts(sc, ids)
        )

    rows = ods_rows(run, corpus)
    chain_s = sum(walls)
    lat = [t["trigger_ms"] for t in triggers]
    run.attempted += len(triggers)
    run.e2e.update({
        "rows_per_s": rows * reps / chain_s,
        "ops_per_s": len(triggers) / chain_s,
        "latency_p50_ms": median(lat),
    })
    run.info.update({
        "ods_rows": rows, "replays": reps, "wall_s": round(chain_s, 3),
        "triggers": len(triggers),
        "batch_p50_ms": run.e2e["latency_p50_ms"],
        # informational: too few triggers for 10 samples beyond p90
        "batch_p90_ms": percentile(lat, 0.9),
    })

    # the chained_* oracles read the timed chain's layers (cache hit)
    with run.tracer.span("bench.verify"):
        verify(run, corpus, CHAINED)

    if run.traced:
        topology_metrics(run, first, layers)
        # one read per publisher entry; the chained ones scan this
        # replay's layers
        with run.tracer.span("bench.plans_pass"):
            plans_metrics(run, plans_pass(run, corpus, PLAN_ENTRIES, "plans"))
        tags = itertools.count()

        def one_chain() -> float:
            src = alias_corpus(run, corpus, f"baseline{next(tags)}")
            return run_chain(run, src)[1]

        _finish_traced(run, one_chain)


# ---------------------------------------------------------------------------
# dashboard_mix
# ---------------------------------------------------------------------------


def in_threads(n: int, target, *args) -> None:
    """Run ``target(i, *args)`` for i in 0..n-1 on n threads; join all."""
    threads = [
        threading.Thread(target=target, args=(i, *args), daemon=True)
        for i in range(n)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


def dashboard_mix(run: Run) -> None:
    """Closed loop: one client thread per core sharing one session, each
    cycling through the publisher's fact reads over the seeded corpus.
    Client i starts its cycle at entry i, so at any moment the clients
    run different reads and every run sees the same mix."""
    corpus = make_corpus(run, "corpus", run.workload.sf, run.seed)
    entries = DASHBOARD_ENTRIES
    ref = {}

    def warm(i: int) -> None:
        for entry in entries[i::CPUS]:
            op = run_op(run, corpus, entry, f"warmup-{entry}")
            ref[entry] = (op.rows, op.digest)

    t0 = time.perf_counter()
    with run.tracer.span("bench.setup"):
        run.spark = start_session(run, CPUS)
        run.listener = ProgressListener(run.tracer)
        run.listener.attach(run.spark)
        # warm-up: one read per entry, spread over the clients' threads;
        # its fingerprint is the reference every timed read is checked
        # against (and the oracle verifies)
        in_threads(CPUS, warm)
    run.e2e["setup_s"] = time.perf_counter() - t0

    ops: list[Op] = []
    lock = threading.Lock()
    t_window = time.perf_counter()
    deadline = t_window + run.seconds

    def client(i: int, parent) -> None:
        n = 0
        with run.tracer.span("bench.client", parent=parent, client=i):
            while time.perf_counter() < deadline:
                entry = entries[(i + n) % len(entries)]
                n += 1
                t = time.perf_counter()
                try:
                    op = run_op(run, corpus, entry, f"op-{i}-{n}")
                    op.ok = (op.rows, op.digest) == ref.get(entry)
                    if not op.ok:
                        run.log(f"fingerprint mismatch {entry}")
                except Exception:
                    run.log(f"{entry} failed:\n{traceback.format_exc()}")
                    op = Op(entry, f"op-{i}-{n}", t, t, time.perf_counter())
                op.client = i
                with lock:
                    ops.append(op)

    with run.tracer.span("bench.window") as window:
        in_threads(CPUS, client, window)
    drain = max(o.end for o in ops) - deadline
    run.e2e["peak_rss_mb"] = peak_rss_mb(run.spark)

    if run.traced:
        sc = run.spark.sparkContext
        run.layer["engine.tasks"], run.layer["engine.failed_tasks"] = (
            task_counts(sc, job_ids(sc, [o.group for o in ops]))
        )

    # Timings use the reads that completed inside the window; the reads
    # in flight at its end are drained and checked, not timed. A client's
    # rate is its completed reads over the time to its last completion,
    # so a read cut by the deadline adds no quantization step.
    timed = [o for o in ops if o.end <= deadline]
    # a failed read misses any latency limit
    lat = [(o.end - o.start) * 1000 if o.ok else float("inf") for o in timed]
    ops_rate = rows_rate = 0.0
    for i in range(CPUS):
        mine = [o for o in timed if o.client == i]
        if mine:
            busy = max(o.end for o in mine) - t_window
            ops_rate += sum(o.ok for o in mine) / busy
            rows_rate += sum(o.rows for o in mine if o.ok) / busy
    run.attempted += len(ops)
    run.failed += sum(not o.ok for o in ops)
    run.e2e.update({
        "rows_per_s": rows_rate,
        "ops_per_s": ops_rate,
        "latency_p50_ms": median(lat),
    })
    rows = ods_rows(run, corpus)
    run.info.update({
        "ods_rows": rows, "queries": len(ops), "timed_queries": len(timed),
        "window_s": run.seconds, "drain_s": round(drain, 3),
        "qps": run.e2e["ops_per_s"],
        "latency_p90_ms": percentile(lat, 0.9),
    })

    with run.tracer.span("bench.verify"):
        verify(run, corpus, DASHBOARD_ENTRIES)

    if run.traced:
        # after the measured window: a chain over the same data (cold,
        # like warehouse_steady's) for the topology metrics, and one read
        # of each chained_* table it wrote
        chain_corpus = alias_corpus(run, corpus, "chain")
        with run.tracer.span("bench.chain"):
            layers, _ = run_chain(run, chain_corpus)
        topology_metrics(run, list(run.listener.triggers), layers)
        with run.tracer.span("bench.plans_pass"):
            chained = plans_pass(run, chain_corpus, CHAINED, "chained")
        plans_metrics(run, ops + chained)

        def one_pass() -> float:
            t = time.perf_counter()
            plans_pass(run, corpus, entries, "baseline")
            return time.perf_counter() - t

        _finish_traced(run, one_pass)


RUNNERS = {"warehouse_steady": warehouse_steady, "dashboard_mix": dashboard_mix}
