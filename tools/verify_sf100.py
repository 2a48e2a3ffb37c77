"""sf100 scale gate for the headline set — moments tier, one
subprocess per query.

Third verification decade (sf0.1 driver gate → sf1 → sf10 → sf100:
600M lineitem / 100M events / 5M docs, 24 GB parquet from
``gen_testdata.py --sf 100 --chunked``). Every query runs through
``tools/verify_agg_scale.py`` in a FRESH process: at this scale a
shared JVM/DuckDB accumulates enough heap/buffer state across queries
to turn one query's spill into the next query's OOM, and a wedged
entry must not take the whole artifact down with it.

Membership (round 9, VERDICT r8 item 6): the 11-query headline set
with ONE documented swap — ``dedup_minhash_lsh`` (uncapped md5 path)
replaced by its capped registry twin (the uncapped form is
OUTPUT-quadratic on the degenerate 31-word corpus: candidates
measured 4.0M @ sf1 → 399.6M @ sf10, 100× per 10× docs, BASELINE.md
round-5, so sf100 projects ~40B pairs — infeasible in EITHER engine
and intrinsic to corpus+operator, not the plan) — PLUS the
production datapipe/layout shapes (DATAPIPE_SF100 below): a
low-entropy corpus at sf100 exposes output-quadratic band joins that
sf10 hides, so the dedup / similarity / quantization shapes get the
same decade.

Usage: python tools/verify_sf100.py [sf_dir] [json_out] [--resume]
--resume: reuse ok-entries from an existing json_out (same sf_dir)
and re-run only failed/missing ones — a kernel OOM or crash mid-run
then costs one entry, not the 2-hour tier (r9 lesson: a CONCURRENT
pytest session got the 503M-group DuckDB oracle OOM-killed; treat
this tier as an exclusive job).
Exit 0 iff every query's moments match DuckDB.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # repo root -> `tools` importable

# r11 ordering: ENGINE-REVISION-SENSITIVE entries first — the r10/r11
# changes (BLAS-twin sf100 routing, the FINITE valid_embeddings rule
# mirrored in 16 oracles, norm hoists, assignment repartition) touch
# the embedding family, so a wall-clock cutoff mid-tier still
# refreshes the rows this rerun exists for; the expensive
# least-changed aggregates (product_stats & friends) run last
# (incremental dump + --resume carry the remainder).
HEADLINE_SF100 = [
    "dedup_exact",
    "similarity_topk",
    "keyword_stats",
    "province_stats",
    "visitor_stats",
    "dedup_minhash_lsh_capped",  # see module docstring
    "pricing_summary",
    "product_stats_union",
    "order_wide",
    "order_enriched",
    "product_stats",
]

# round-9 extension: production datapipe + layout shapes
DATAPIPE_SF100 = [
    "label_centroids",
    "embedding_quantize_int8",
    "similarity_topk_bucketed",
    "dedup_substring_spans",     # r9 operator: 3 linear shuffles
    "dedup_jaccard_complete_capped",
    "product_stats_bucketed",    # exchange-free layout twin (one-time
                                 # bucketed write, fingerprint-cached)
]

# actual execution order (see the r11 ordering note above): embedding
# family first, big unchanged aggregates last
RUN_ORDER = (
    DATAPIPE_SF100[:3] + HEADLINE_SF100[:8]
    + DATAPIPE_SF100[3:] + HEADLINE_SF100[8:]
)
assert sorted(RUN_ORDER) == sorted(HEADLINE_SF100 + DATAPIPE_SF100)

EXCLUDED = {
    "dedup_minhash_lsh": (
        "uncapped md5 LSH is output-quadratic on the degenerate "
        "31-word corpus: 4.0M candidates @ sf1 -> 399.6M @ sf10 "
        "(measured, BASELINE.md) -> ~40B projected @ sf100; "
        "capped twin dedup_minhash_lsh_capped verified instead"
    ),
    "knn_graph": (
        "every-vector top-3 at 2M vectors: auto_bits=11 -> 2048 "
        "cells x ~977 rows -> ~0.95B candidate pairs; Spark folds "
        "them with a partial-agg max_by, but the DuckDB oracle's "
        "row_number() needs a ~1B-row partitioned sort (~100+ GB "
        "spill > the 53 GB free local disk). ORACLE-excluded only: "
        "the Spark plan executes in this tier's solo section "
        "(bench_knn_invariants.py — per-anchor k / dup / self / "
        "rank-density invariants in-engine); oracle parity at sf10 "
        "via tools/verify_knn_scale.py"
    ),
    "contrastive_hard_negatives": (
        "same pair volume and oracle row_number sort as knn_graph "
        "(label != residual does not reduce the candidate set); "
        "sf10-verified, same plan family; runs solo here with "
        "invariants like knn_graph"
    ),
    "dedup_embedding_cosine": (
        "expr-fold oracle surface demoted to sf10 (173 s there, "
        "cross-engine-verified): at sf100 it spends 1815 s computing "
        "what its parity-pinned BLAS twin does in 18 s (r9 measured, "
        "bit-identical 6dp sum over the same 6.07M pairs); that twin "
        "is retired, so this tier does not run the shape"
    ),
    "dedup_semantic": (
        "the ORACLE itself is infeasible at this decade: the SQL "
        "kmeans chain pays 2M vectors × ~1954 cells × 3 passes ≈ "
        "11.7B dim-64 cosines plus a 3.9B-row row_number per pass — "
        "sf10 moments-verified (SEMDEDUP_SF10_r10.json), where the "
        "identical plan shape runs both engines; at sf100 the BLAS "
        "twin dedup_semantic_numpy is benched solo (timing + kept-"
        "count invariants), its kernel parity being pytest-pinned"
    ),
}


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--resume"]
    resume = "--resume" in sys.argv[1:]
    sf_dir = args[0] if args else ".local/sf100"
    # neutral default (ADVICE r11): never clobber a committed artifact
    json_out = args[1] if len(args) > 1 else "VERIFY_SF100.json"

    # disk pre-flight (VERDICT r11 item 1): the r11 tier lost
    # product_stats to a DuckDB ENOSPC and polluted the mid-tier wall
    # times for every entry inside the pressure window. Clean OUR OWN
    # stale per-entry scratch first, then require headroom.
    import glob as _glob

    from tools.verify_agg_scale import preflight_disk

    for stale in _glob.glob("/tmp/verify_sf100_*.json") + _glob.glob(
        "/tmp/bench_semantic_numpy_sf100.json"
    ):
        os.unlink(stale)
    free_gb = preflight_disk()
    print(f"preflight: {free_gb} GiB free", flush=True)

    results: dict[str, dict] = {}
    bad: list[str] = []
    if resume and os.path.exists(json_out):
        prev = json.load(open(json_out))
        if prev.get("sf_dir") == sf_dir:
            results = {
                n: r for n, r in prev.get("results", {}).items()
                if r.get("ok")
            }
            print(f"resume: {len(results)} green entries reused "
                  f"from {json_out}", flush=True)
    t_all = time.time()
    # the sf100 session knobs (bench-identical): 256 shuffle
    # partitions + AQE coalesce-down, 64g driver, 60 s shuffle GC —
    # without them product_stats' ~500M-group aggregate lands ~16M
    # groups on each of 32 reducers and the subprocess dies
    env = dict(
        os.environ,
        SPARK_GRAFT_SHUFFLE_PARTITIONS="256",
        SPARK_DRIVER_MEM="64g",
        SPARK_GRAFT_CONF="spark.cleaner.periodicGC.interval=60s",
    )
    for name in RUN_ORDER:
        if name in results:  # --resume: already green
            continue
        per_q = f"/tmp/verify_sf100_{name}.json"
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "verify_agg_scale.py"),
             name, sf_dir, per_q],
            capture_output=True, text=True, timeout=7200, env=env,
        )
        sec = round(time.time() - t0, 1)
        if proc.returncode == 0 and os.path.exists(per_q):
            with open(per_q) as f:
                rep = json.load(f)
            results[name] = {
                "ok": rep["ok"], "rows": rep["rows"],
                "spark_sec": rep["spark_sec"],
                "oracle_sec": rep["oracle_sec"],
            }
            if not rep["ok"]:
                results[name]["mismatch"] = rep.get("mismatch")
                bad.append(name)
        else:
            results[name] = {
                "ok": False, "sec": sec,
                "err": (proc.stderr or proc.stdout)[-2000:],
            }
            bad.append(name)
        print(name, json.dumps(results[name])[:200], flush=True)
        # incremental dump: a kernel OOM / wall-clock cutoff mid-tier
        # keeps every finished entry (combine with --resume)
        _dump(json_out, sf_dir, results, bad, {}, t_all)

    # the dedup_semantic EXCLUDED note's promise: the BLAS twin
    # carries this tier as a SOLO bench row (no oracle — the SQL
    # kmeans chain is infeasible here; kernel parity is pytest-pinned
    # and sf10 is moments-gated in both engines)
    solo = {}
    per_q = "/tmp/bench_semantic_numpy_sf100.json"
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench_semantic_numpy.py"),
         sf_dir, per_q],
        capture_output=True, text=True, timeout=7200, env=env,
    )
    if proc.returncode == 0 and os.path.exists(per_q):
        with open(per_q) as f:
            solo["dedup_semantic_numpy"] = json.load(f)
    else:
        solo["dedup_semantic_numpy"] = {
            "ok": False, "sec": round(time.time() - t0, 1),
            "err": (proc.stderr or proc.stdout)[-2000:],
        }
    print("solo", json.dumps(solo)[:300], flush=True)
    _dump(json_out, sf_dir, results, bad, solo, t_all)

    # knn_graph / contrastive_hard_negatives: same promise as the
    # semantic twin — the DuckDB oracle is infeasible at this SF
    # (86 GB window sort measured at sf10), so the tier carries the
    # Spark plans SOLO with in-engine structural invariants; oracle
    # parity stays at sf10 (tools/verify_knn_scale.py). VERDICT r11
    # item 6: the engine side must EXECUTE here, not just be excused.
    per_q = "/tmp/bench_knn_invariants_sf100.json"
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench_knn_invariants.py"),
         sf_dir, per_q],
        capture_output=True, text=True, timeout=7200, env=env,
    )
    if proc.returncode == 0 and os.path.exists(per_q):
        with open(per_q) as f:
            solo["knn_invariants"] = json.load(f)
    else:
        solo["knn_invariants"] = {
            "ok": False, "sec": round(time.time() - t0, 1),
            "err": (proc.stderr or proc.stdout)[-2000:],
        }
    print("solo-knn", json.dumps(solo["knn_invariants"])[:300], flush=True)

    _dump(json_out, sf_dir, results, bad, solo, t_all)
    print("TOTAL", round(time.time() - t_all, 1), "BAD:", bad)
    return 1 if bad else 0


def _dump(json_out, sf_dir, results, bad, solo, t_all) -> None:
    with open(json_out, "w") as f:
        json.dump({
            "sf_dir": sf_dir,
            "tier": "aggregate moments (count/sum/sumsq/min/max/"
                    "countDistinct vs DuckDB, O(1) driver memory)",
            "checked": len(results),
            "bad": bad,
            "excluded": EXCLUDED,
            "results": results,
            "solo_bench": solo,
            "total_sec": round(time.time() - t_all, 1),
        }, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
