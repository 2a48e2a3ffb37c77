"""Measurement plumbing shared by the perfbench workloads.

Everything here observes the system from outside: spans are recorded
around calls into the repository's public functions, per-trigger numbers
come from this module's own StreamingQueryListener, and task counts come
from ``SparkContext.statusTracker()``. Nothing reads topology internals
(``LAYER_SECONDS`` / ``LAYER_BATCH_MS``), so the program may change them
without moving the benchmark.
"""

from __future__ import annotations

import itertools
import math
import os
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CPUS = len(os.sched_getaffinity(0))

# Driver heap for every session. Well below physical RAM on a shared
# 15 GB box (the session default is 16g); the corpora here are a few MB,
# so 1g is ample, and a heap that fills early keeps peak RSS steady.
DRIVER_MEMORY = "1g"

TOPOLOGY_JOBS = (
    "base_log_app",
    "base_db_app",
    "dwm_unique_visit",
    "dwm_user_jump",
    "dwm_order_wide",
    "dwm_payment_wide",
    "dws_visitor_stats",
    "dws_product_stats",
    "dws_province_stats",
    "dws_keyword_stats",
)
# the two DWD jobs are stateless (foreachBatch fan-out); every other job
# keeps keyed state (dedup, CEP timers, interval-join buffers, windows)
STATEFUL_JOBS = TOPOLOGY_JOBS[2:]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    ``q`` share of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# ---------------------------------------------------------------------------
# run directory, environment and session
# ---------------------------------------------------------------------------


def prepare_run_dir(workload: str, seed: int) -> Path:
    run_dir = ROOT / ".perfbench" / f"run-{workload}-{seed}-{os.getpid()}"
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    return run_dir


def set_environment(run_dir: Path) -> None:
    """Pin every environment knob the program reads, so a run depends
    only on its arguments: drop inherited ``SPARK_GRAFT_*`` settings (so
    the chain runs in its default bulk posture), and keep every temp,
    spill and checkpoint file under the run directory."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = str(run_dir / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # this process and the Python workers import the package by name
    sys.path.insert(0, str(ROOT))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def session_conf(run_dir: Path) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM plus this process."""
    proc = jvm_process(spark)
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(proc.pid) if proc else 0)
    return kb / 1024.0


def shutdown_jvm(spark) -> None:
    """Stop the session and the gateway JVM it runs in, and wait for the
    JVM to exit (it exits when its stdin closes); the Python workers are
    its children and stop with it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = jvm_process(spark)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends. A disabled tracer records nothing, so untraced
    runs pay only a no-op context manager per call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, start, time.time(), parent, sid=sid, **attrs)

    def add(self, name, start, end, parent, sid=None, **attrs) -> None:
        if self.enabled:
            self.spans.append({
                "id": sid if sid is not None else next(self._ids),
                "name": name, "start": start, "end": end,
                "parent": parent, "run": self.run_id, **attrs,
            })

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer (span-name prefix before the first '.'): sum of
        each span's duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s["name"].split(".")[0]
            dur = s["end"] - s["start"] - covered
            out[layer] = out.get(layer, 0.0) + dur * 1000.0
        return out


class ProgressListener:
    """The benchmark's own StreamingQueryListener: one record (and, when
    tracing, one span) per micro-batch trigger of every streaming query,
    plus a count of terminated queries so a caller can wait until every
    event of a finished chain has been delivered."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.parent: int | None = None  # span the trigger spans hang off
        self.triggers: list[dict] = []
        self.started = self.terminated = 0
        self._lock = threading.Lock()
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                with outer._lock:
                    outer.started += 1

            def onQueryProgress(self, event) -> None:
                outer._on_progress(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                with outer._lock:
                    outer.terminated += 1

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def _on_progress(self, p) -> None:
        dur = p.durationMs or {}
        ms = float(dur.get("triggerExecution", 0.0))
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        ops = p.stateOperators or []
        rec = {
            "job": p.name,
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "trigger_ms": ms,
            "add_batch_ms": float(dur.get("addBatch", 0.0)),
            "input_rows": int(p.numInputRows or 0),
            "state_rows": sum(int(o.numRowsTotal or 0) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes or 0) for o in ops),
        }
        with self._lock:
            self.triggers.append(rec)
        t0 = start.timestamp()
        self.tracer.add(f"trigger.{p.name}", t0, t0 + ms / 1000.0,
                        self.parent, batch_id=p.batchId)

    def reset(self) -> None:
        with self._lock:
            self.triggers = []
            self.started = self.terminated = 0

    def wait_drained(self, timeout: float = 60.0) -> None:
        """Call once every streaming query has stopped. Events reach
        Python asynchronously, a query's progress events before its
        termination event, so once every started query has reported
        termination (and the counts hold still) every trigger has been
        recorded."""
        deadline = time.monotonic() + timeout
        last = None
        while True:
            now = (self.started, self.terminated)
            if now[0] and now[0] == now[1] and now == last:
                return
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"{now[1]}/{now[0]} streaming queries reported "
                    "termination"
                )
            last = now
            time.sleep(0.2)


def per_job_stats(triggers: list[dict]) -> dict[str, dict[str, float]]:
    """Per topology job: trigger count, median trigger / addBatch /
    fixed (trigger minus addBatch) ms, input rows, peak state."""
    out = {}
    for job in TOPOLOGY_JOBS:
        recs = [r for r in triggers if r["job"] == job]
        if not recs:
            out[job] = {"triggers": 0}
            continue
        out[job] = {
            "triggers": len(recs),
            "trigger_ms": median([r["trigger_ms"] for r in recs]),
            "add_batch_ms": median([r["add_batch_ms"] for r in recs]),
            "fixed_ms": median(
                [r["trigger_ms"] - r["add_batch_ms"] for r in recs]
            ),
            "input_rows": sum(r["input_rows"] for r in recs),
            "state_rows": max(r["state_rows"] for r in recs),
            "state_bytes": max(r["state_bytes"] for r in recs),
        }
    return out


# ---------------------------------------------------------------------------
# engine counters and output fingerprints
# ---------------------------------------------------------------------------


def job_ids(sc, groups) -> set[int]:
    """Ids of the jobs run under any of ``groups`` (``None`` selects the
    jobs that ran outside every job group)."""
    st = sc.statusTracker()
    ids: set[int] = set()
    for g in groups:
        ids.update(st.getJobIdsForGroup(g))
    return ids


def task_counts(sc, ids) -> tuple[int, int]:
    """(tasks run, tasks failed) over the stages of the given jobs.
    Counts completed + failed attempts, so stages AQE skipped add 0."""
    st = sc.statusTracker()
    stages: set[int] = set()
    for jid in ids:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    done = failed = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None:
            done += si.numCompletedTasks
            failed += si.numFailedTasks
    return done + failed, failed


def fingerprint(df) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a DataFrame's rows, computed
    in Spark so every output column is materialized but only one row
    reaches the driver. Floats are rounded to 6 places, like the oracle
    compare, so summation-order noise cannot flip the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.round(c, 6)
        elif isinstance(f.dataType, (T.MapType, T.StructType, T.ArrayType)):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols).cast("decimal(38,0)") if cols else F.lit(0)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), str(row["s"])
