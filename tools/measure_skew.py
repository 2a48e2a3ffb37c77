"""Skew-handling measurements (VERDICT r7 task #2): hot-key corpora,
AQE skew-join splitting, and the salted-join fallback — measured, not
asserted.

Scenario mirrors the reference's hot keys: the flash-sale sku every
ProductStats keyBy routes to one subtask
(RT/app/dws/ProductStatsApp.java:263) and the hot mid through
BaseLogAPP.java:80. `gen_testdata.py --skew 0.3` collapses 30% of
lineitem rows onto l_partkey=0, of events onto user_id=0, and of
orders onto o_custkey=0.

Four measurements, one JSON artifact (SKEW_r08.json):

A. Headline aggregation queries (product_stats / visitor_stats /
   order_wide) on the uniform vs the skewed corpus. Claim under test:
   partial (map-side) aggregation absorbs groupBy-key skew — the hot
   key collapses to ONE row per map partition before the shuffle, so
   a 30%-hot corpus costs about the same as a uniform one. (AQE
   skew-join does not apply to aggregations; this is the two-phase
   agg doing the work.)

B. Hot-key fact-dim join (lineitem ⋈ part on the 30%-hot l_partkey),
   broadcast disabled so the shuffle join shape a >8GB dim would
   force at 100 TB is what's measured, AQE skew split ON vs OFF.
   Local-mode thresholds are scaled down (the sf0.1 shuffle is ~7MB
   where production partitions are 100s of MB); the *plan shape* —
   SortMergeJoin(skew=true), the hot partition split across reducers
   — is the 100TB-relevant evidence and is pinned by
   tests/test_plans.py::test_aqe_skew_join_split_engages.

C. The same join via `salted_join` (operators/joins.py): the manual
   mitigation for when AQE cannot engage (single mapper block, or a
   stream-stream join where AQE never runs). Correctness: salted
   result hash == plain result hash.

D. Oracle gate on the skewed corpus: the three QUERIES entries
   hash-compared against DuckDB on the SAME skewed parquet — skew
   must not change answers, only plans.

Usage: python tools/measure_skew.py [uniform_dir] [skew_dir] [out.json]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
QUERIES = ("product_stats", "visitor_stats", "order_wide")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# local-mode scale-down of the production skew thresholds: sf0.1's
# whole lineitem shuffle is ~7 MB, so the 256 MB default threshold can
# never see a "skewed" partition here. The FACTOR (hot >= 5x median)
# is left at its default — that is the skew definition; only the
# absolute byte floors shrink with the corpus.
SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _min_of(reps: int, fn) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def vhash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    lines = sorted(
        ",".join(str(v) for v in r) for r in pdf.itertuples(index=False)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def hot_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from gmall_realtime_flink_spark.catalog import load

    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "l_extendedprice", "p_brand")
    )


def salted_hot_join(spark, sf_dir, salt=8):
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.joins import salted_join

    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return salted_join(l, p, "l_partkey", "p_partkey", salt=salt).select(
        "l_orderkey", "l_extendedprice", "p_brand"
    )


def main() -> int:
    uniform = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    skewed = sys.argv[2] if len(sys.argv) > 2 else ".local/sf0.1_skew0.3"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "SKEW_r08.json"

    from gmall_realtime_flink_spark.plans import REGISTRY
    from gmall_realtime_flink_spark.session import get_spark

    spark = get_spark("measure_skew")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"uniform_dir": uniform, "skew_dir": skewed, "reps": REPS}

    # warm-up: absorb JVM/codegen startup before any timing
    _noop(hot_join(spark, uniform))

    # A. aggregation queries, uniform vs skewed -------------------------
    agg = {}
    for q in QUERIES:
        b = REGISTRY[q].builder
        agg[q] = {
            "uniform_sec": _min_of(REPS, lambda: _noop(b(spark, uniform))),
            "skewed_sec": _min_of(REPS, lambda: _noop(b(spark, skewed))),
        }
        agg[q]["ratio"] = round(
            agg[q]["skewed_sec"] / max(agg[q]["uniform_sec"], 1e-9), 2
        )
    out["agg_queries"] = agg

    # B. hot-key join: AQE skew split on vs off -------------------------
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k) for k in SKEW_CONF}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for k, v in SKEW_CONF.items():
            spark.conf.set(k, v)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        j = hot_join(spark, skewed)
        t_on = _min_of(REPS, lambda: _noop(j))
        # the noop write wraps the plan in its OWN QueryExecution, so
        # j's adaptive plan never finalizes from timing alone — execute
        # j itself once (collect) to read the final plan's skew marker
        j.collect()
        plan_on = j._jdf.queryExecution().executedPlan().toString()

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        j_off = hot_join(spark, skewed)
        t_off = _min_of(REPS, lambda: _noop(j_off))

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        j_uni = hot_join(spark, uniform)
        t_uni = _min_of(REPS, lambda: _noop(j_uni))

        out["hot_join"] = {
            "skewed_aqe_split_on_sec": t_on,
            "skewed_aqe_split_off_sec": t_off,
            "uniform_sec": t_uni,
            "split_speedup": round(t_off / max(t_on, 1e-9), 2),
            "plan_has_skew_marker": "skew=true" in plan_on,
        }

        # C. salted join vs plain (AQE split off: salting is the
        # fallback for exactly the case where AQE cannot engage) ------
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        s = salted_hot_join(spark, skewed)
        t_salted = _min_of(REPS, lambda: _noop(s))
        plain_pdf = hot_join(spark, skewed).toPandas()
        salted_pdf = s.toPandas()
        out["salted_join"] = {
            "plain_sec": t_off,
            "salted_sec": t_salted,
            "speedup": round(t_off / max(t_salted, 1e-9), 2),
            "rows_match": len(plain_pdf) == len(salted_pdf),
            "hash_match": vhash(plain_pdf) == vhash(salted_pdf),
        }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        for k, v in prev.items():
            spark.conf.set(k, v)

    # D. oracle gate on the skewed corpus -------------------------------
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(skewed, t)}.parquet')"
        )
    oracle = {}
    for q in QUERIES:
        spec = REGISTRY[q]
        got = spec.builder(spark, skewed).toPandas()
        want = con.execute(spec.oracle).fetchdf()
        oracle[q] = {
            "rows": len(got),
            "ok": len(got) == len(want) and vhash(got) == vhash(want),
        }
    out["oracle_on_skewed"] = oracle

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    ok = (
        out["hot_join"]["plan_has_skew_marker"]
        and out["salted_join"]["hash_match"]
        and all(r["ok"] for r in oracle.values())
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
