"""Time EVERY registry entry once (noop sink) to rank optimization
targets across the whole declared-query surface.

Usage: python tools/bench_registry.py [sf_dir] [out.json] [--reps N]

Per entry: build the plan, noop-write it ``reps`` times, record
min/max seconds plus coarse plan-shape counters (Exchange nodes,
BatchEvalPython/ArrowEvalPython/MapInPandas nodes, join strategies)
from the AQE-final executed plan so a shuffle-count regression is
visible next to its timing. Jobs are labelled with the entry name
(guide §1.5) so a live UI run maps stages back to entries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_realtime_flink_spark.plans import REGISTRY  # noqa: E402
from gmall_realtime_flink_spark.session import get_spark  # noqa: E402


def plan_shape(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan))
        - len(re.findall(r"\bReusedExchange\b", plan)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", plan)),
        "python_evals": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
                r"FlatMapGroupsInPandas",
                plan,
            )
        ),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    out_path = args[1] if len(args) > 1 else "/tmp/bench_registry.json"
    reps = 1
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=")[1] if "=" in a else sys.argv[
                sys.argv.index(a) + 1])
    only = [a.split("=", 1)[1].split(",") for a in sys.argv[1:]
            if a.startswith("--only=")]
    names = only[0] if only else list(REGISTRY)

    spark = get_spark(app_name="bench_registry")
    sc = spark.sparkContext
    # warm-up
    REGISTRY["pricing_summary"].builder(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    results: dict[str, dict] = {}
    t_start = time.time()
    for name in names:
        spec = REGISTRY[name]
        try:
            secs = []
            sc.setJobDescription(name)
            for _ in range(reps):
                # fresh build per rep so a lazy localCheckpoint inside
                # the builder cannot warm later reps (plan_shape reads
                # the last rep's df)
                df = spec.builder(spark, sf_dir)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                secs.append(time.perf_counter() - t0)
            sc.setJobDescription(None)
            results[name] = {
                "min": round(min(secs), 3),
                "max": round(max(secs), 3),
                **plan_shape(df),
            }
            print(f"{name} {min(secs):.3f}s", file=sys.stderr, flush=True)
        except Exception as e:  # pragma: no cover - diagnostic path
            results[name] = {"error": str(e)[:300]}
            print(f"{name} ERROR {e}", file=sys.stderr, flush=True)
    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "total_wall_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    slow = sorted(
        ((v.get("min", 99), k) for k, v in results.items()), reverse=True
    )[:25]
    print(json.dumps({"slowest": [[k, s] for s, k in slow]}, indent=1))


if __name__ == "__main__":
    main()
