"""perfbench: the repository benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_steady --seed 1 \
        --seconds 10 --trace 0

Generates the workload's corpus from ``--seed`` under
``.perfbench/run-*`` (deleted when the run ends), measures for at least
``--seconds`` seconds, checks every output against the DuckDB oracle
and prints one line per metric, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` is a separate
traced run that reports the per-layer metrics and writes its spans to
``.perfbench/traces/``. See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

sys.dont_write_bytecode = True

from harness import (  # noqa: E402
    CPUS,
    DRIVER_MEMORY,
    ROOT,
    Tracer,
    prepare_run_dir,
    set_environment,
    shutdown_jvm,
)
from workloads import RUNNERS, WORKLOADS, Run  # noqa: E402


def _declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {
        "end_to_end": [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        "per_layer": [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    declared = _declared()
    if not (ROOT / "gmall_realtime_flink_spark").is_dir():
        print(f"no gmall_realtime_flink_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    run_dir = prepare_run_dir(workload.name, args.seed)
    run = Run(
        workload=workload, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), run_dir=run_dir,
        tracer=Tracer(bool(args.trace), f"{workload.name}-{args.seed}"),
    )
    run.info["posture"] = {
        "cpus": CPUS, "driver_memory": DRIVER_MEMORY,
        "clients": CPUS if workload.name == "dashboard_mix" else 1,
        "topology": "default (bulk): no SPARK_GRAFT_* variable set",
    }
    t0 = time.perf_counter()
    try:
        set_environment(run_dir)
        RUNNERS[workload.name](run)
    finally:
        if run.spark is not None:
            shutdown_jvm(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    run.info["run_s"] = round(time.perf_counter() - t0, 3)

    kind = "per_layer" if args.trace else "end_to_end"
    values = run.layer if args.trace else run.e2e
    missing = [n for n, _ in declared[kind] if n not in values]
    if missing:
        raise RuntimeError(f"{kind} metrics not measured: {missing}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared[kind]}

    error_rate = run.failed / max(run.attempted, 1)
    for k, v in sorted(run.info.items()):
        print(f"{workload.name} {k} {json.dumps(v)}")
    print(f"{workload.name} error_rate {error_rate:.6f} "
          f"({run.failed} failed / {run.attempted} attempted)")
    for n, m in metrics.items():
        print(f"{workload.name} {n} {m['value']:.6g} {m['unit']}")
    if args.trace:
        out = ROOT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{workload.name}-seed{args.seed}.json"
        with open(path, "w") as f:
            json.dump({"info": run.info, "metrics": metrics,
                       "spans": run.tracer.spans}, f)
        print(f"{workload.name} spans {len(run.tracer.spans)} -> "
              f"{path.relative_to(ROOT)}")

    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
