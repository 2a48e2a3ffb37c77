"""SemDeDup hot-cell cap validation on the skewed-emb corpus
(VERDICT r10 items 2+3).

The driver corpora's i.i.d. embeddings give near-uniform kmeans cells
(sf1 min/med/max = 934/1001/1068), so the quadratic in-cell block's
skew posture was untested. The skewed-emb corpus
(tools/gen_testdata.py --corpus skewed-emb: Zipf cluster sizes, top
cluster >20% of the corpus, within-cluster cosine ~0.6 >> the 0.4
threshold) is the embedding analogue of the round-6 zipf text corpus
that validated the lexical max_bucket caps.

This tool:
1. hash-gates BOTH dedup_semantic and dedup_semantic_capped against
   their DuckDB oracles at skew-sf1 (20k vectors) — the cap trips
   there (top cell > 2×2048), so the symbolic-cap oracle is exercised
   for real, not vacuously;
2. records the kmeans cell-size distribution under skew;
3. measures the degradation: wall time capped vs uncapped (expr and
   BLAS-twin forms) at skew-sf1 and skew-sf10 (200k vectors), and the
   LOSS the cap buys it — how many vectors land in capped cells and
   how many dup-drops the uncapped pass finds there.

Writes SEMDEDUP_SKEW_r11.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tools.measure_skew import vhash  # noqa: E402

SF1 = ".local/skewemb_sf1"
SF10 = ".local/skewemb_sf10"


def main() -> int:
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup_numpy,
    )
    from gmall_realtime_flink_spark.plans import REGISTRY
    from gmall_realtime_flink_spark.plans.datapipe import SEMDEDUP_CAP
    from gmall_realtime_flink_spark.session import get_spark

    json_out = sys.argv[1] if len(sys.argv) > 1 else "SEMDEDUP_SKEW.json"
    spark = get_spark("measure_semdedup_skew")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"cap": SEMDEDUP_CAP, "corpus": {}}
    for sf in (SF1, SF10):
        out["corpus"][sf] = json.load(open(os.path.join(sf, "MANIFEST.json")))

    # 1) hash gates at skew-sf1: the capped oracle's HAVING branch and
    # the uncapped baseline both exercised END TO END under skew
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF1, 'embeddings.parquet')}')"
    )
    gates: dict = {}
    frames: dict = {}
    for name in (
        "dedup_semantic_capped",
        "dedup_semantic",
        "dedup_semantic_resplit",
    ):
        spec = REGISTRY[name]
        t0 = time.time()
        got = spec.builder(spark, SF1).toPandas()
        sp = time.time() - t0
        t0 = time.time()
        want = con.execute(spec.oracle).fetchdf()
        osec = time.time() - t0
        ok = len(got) == len(want) and vhash(got) == vhash(want)
        gates[name] = {
            "ok": bool(ok),
            "rows": len(got),
            "spark_sec": round(sp, 1),
            "oracle_sec": round(osec, 1),
        }
        frames[name] = got
        print(f"{name}@skew-sf1 {'OK' if ok else 'BAD'} "
              f"spark {sp:.1f}s oracle {osec:.1f}s", flush=True)
    out["hash_gates_sf1"] = gates

    # 2) cell-size distribution + loss accounting at sf1
    cap_df, unc_df = frames["dedup_semantic_capped"], frames["dedup_semantic"]
    sizes = cap_df.groupby("cell").size().sort_values()
    hot = cap_df[cap_df["cell_capped"]]
    unc_by_id = unc_df.set_index("vec_id")["kept"]
    drops_lost = int(
        (~unc_by_id.loc[hot["vec_id"]]).sum()
    )  # dup verdicts the cap forgoes (all inside hot cells)
    out["sf1_skew"] = {
        "n_vectors": len(cap_df),
        "n_cells": int(sizes.size),
        "cell_min": int(sizes.min()),
        "cell_median": int(sizes.median()),
        "cell_max": int(sizes.max()),
        "cells_top5": sizes.tail(5).tolist()[::-1],
        "n_capped_cells": int(cap_df[cap_df["cell_capped"]]["cell"].nunique()),
        "capped_vectors": int(len(hot)),
        "capped_share": round(len(hot) / len(cap_df), 4),
        "drops_uncapped": int((~unc_df["kept"]).sum()),
        "drops_capped": int((~cap_df["kept"]).sum()),
        "drops_lost_to_cap": drops_lost,
    }
    print(json.dumps(out["sf1_skew"]), flush=True)

    # 2b) re-split recovery (VERDICT r11 item 3): how many of the
    # drops the cap forwent does the second-level kmeans recover?
    # Re-split pairs are a strict subset of the uncapped in-cell
    # pairs (same cell AND same subcell), so its drops on hot members
    # are a subset of the uncapped drops there — recovery is the
    # recall of that subset.
    rs_df = frames["dedup_semantic_resplit"]
    rs_hot = rs_df[rs_df["subcell"].notna()]
    rs_by_id = rs_df.set_index("vec_id")
    hot_ids = hot["vec_id"]
    drops_recovered = int((~rs_by_id.loc[hot_ids]["kept"]).sum())
    small_ids = cap_df[~cap_df["cell_capped"]]["vec_id"]
    out["sf1_resplit"] = {
        "hot_vectors": int(len(rs_hot)),
        "n_subblocks": int(
            rs_hot.groupby(["cell", "subcell"]).ngroups
        ),
        "subblock_max": int(
            rs_hot.groupby(["cell", "subcell"]).size().max()
        ) if len(rs_hot) else 0,
        "still_capped_vectors": int(rs_df["cell_capped"].sum()),
        "drops_lost_to_cap": drops_lost,
        "drops_recovered_by_resplit": drops_recovered,
        "drops_still_lost": drops_lost - drops_recovered,
        "recovery_rate": round(drops_recovered / drops_lost, 4)
        if drops_lost else None,
        # invariant: small-cell verdicts bit-identical to the capped
        # (== uncapped) form
        "small_cells_identical": bool(
            (
                rs_by_id.loc[small_ids]["kept"].to_numpy()
                == unc_by_id.loc[small_ids].to_numpy()
            ).all()
        ),
    }
    print(json.dumps(out["sf1_resplit"]), flush=True)
    _dump(json_out, out)

    # 3) degradation curve: BLAS twin capped vs uncapped, sf1 and sf10
    walls: dict = {}
    for sf, tag in ((SF1, "sf1"), (SF10, "sf10")):
        e = load(spark, sf, "embeddings")
        for capped in (True, False):
            t0 = time.time()
            res = semantic_dedup_numpy(
                e,
                threshold=0.4,
                max_cell=SEMDEDUP_CAP if capped else None,
            ).toPandas()
            sec = round(time.time() - t0, 1)
            key = f"numpy_{'capped' if capped else 'uncapped'}@{tag}"
            walls[key] = {
                "sec": sec,
                "rows": len(res),
                "drops": int((~res["kept"]).sum()),
            }
            if capped:
                walls[key]["capped_vectors"] = int(res["cell_capped"].sum())
            print(key, json.dumps(walls[key]), flush=True)
            out["walls"] = walls
            _dump(json_out, out)
    return 0 if all(g["ok"] for g in gates.values()) else 1


def _dump(json_out: str, out: dict) -> None:
    with open(json_out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
