"""Aggregate-tier oracle compare for queries whose RESULT is too big
to collect.

The standard harness (tests/test_oracle.py) hash-compares full result
sets driver-side — right at test scale, impossible when
a scale run makes the *result itself* enormous (dedup_minhash_lsh
emits 4.0M candidate pairs at sf1 and 399.6M at sf10 on the
degenerate 31-word corpus: nearly every doc pair shares a band). This
tier compares IN-ENGINE aggregates instead — neither engine ever
materializes the result to the driver:

  count(*), and per numeric column: sum, sum of squares (as exact
  DECIMAL/HUGEINT — no float accumulation), min, max.

Equality of those moments over the same unordered result set is a
strong (not cryptographic) equivalence check with O(1) driver memory.
Non-numeric columns contribute count(distinct) only.

Usage: python tools/verify_agg_scale.py <query> [sf_dir] [json_out]
Exit 0 iff all aggregates match.
"""

from __future__ import annotations

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
NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}

# Spill-friendly ALGEBRAIC rewrites of specific oracles, opt-in via
# SPARK_GRAFT_ORACLE_REWRITE=1. Motivation (r12): the product_stats
# oracle's count(DISTINCT l_orderkey) over ~503M (partkey, month)
# groups holds a per-group distinct SET in DuckDB's aggregate state —
# ~100+ GB that does NOT spill under memory_limit (three kills
# measured: unbounded 92 GB kernel-OOM, 48 GB cap ENOSPC past 43 GB
# of spill headroom, 95 GB cap kernel-OOM with zero bytes spilled).
# The rewrite is the textbook distinct-to-two-level transformation:
#   count(DISTINCT k) GROUP BY a,b
#     == count(k) over (SELECT a,b,k ... GROUP BY a,b,k)
# (count(k), not count(*): DISTINCT excludes NULL keys, and count(*)
# would count the NULL group — NULL-exact even on hostile corpora)
# and the DECIMAL(28,4) sums re-associate EXACTLY across the extra
# level (integer-scaled decimal addition is associative; the only
# rounding, round(.,2), still happens once at the outer level). Both
# levels are plain GROUP BYs — DuckDB's out-of-core hash aggregate
# handles them. Equivalence is pinned by
# tests/test_oracle.py::test_product_stats_oracle_rewrite_equivalence
# on real data in DuckDB itself.
ORACLE_REWRITES = {
    "product_stats": """
    SELECT g.l_partkey AS sku_id, p.p_name AS sku_name, p.p_brand AS tm_name,
           g.ship_month, g.order_ct, g.quantity, g.revenue
    FROM (
      SELECT l_partkey, ship_month,
             count(l_orderkey) AS order_ct,
             round(sum(qty), 2)::DOUBLE AS quantity,
             round(sum(rev), 2)::DOUBLE AS revenue
      FROM (
        SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
               l_orderkey,
               sum(CAST(l_quantity AS DECIMAL(28,4))) AS qty,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(28,4))) AS rev
        FROM lineitem
        GROUP BY 1, 2, 3
      )
      GROUP BY 1, 2
    ) g
    LEFT JOIN part p ON g.l_partkey = p.p_partkey
    """,
}
# the bucketed layout twin carries the identical oracle
ORACLE_REWRITES["product_stats_bucketed"] = ORACLE_REWRITES["product_stats"]


def preflight_disk(min_free_gb: float = 25.0) -> float:
    """Fail FAST when local disk can't absorb a big oracle's spill
    (VERDICT r11 item 1: the sf100 product_stats DuckDB aggregate died
    on ENOSPC 460 s in, with the tier's wall times polluted for every
    entry that ran inside the pressure window). Returns free GiB."""
    import shutil as _shutil

    free_gb = _shutil.disk_usage("/tmp").free / 2**30
    if free_gb < min_free_gb:
        raise SystemExit(
            f"preflight: only {free_gb:.1f} GiB free on /tmp "
            f"(< {min_free_gb} GiB) — clean stale artifacts "
            "(/tmp/verify_sf100_*, spark-warehouse/*_b32_*) before a "
            "spill-heavy oracle run"
        )
    return round(free_gb, 1)


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".local/sf1"
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    free_gb = preflight_disk()

    from pyspark.sql import functions as F

    from gmall_realtime_flink_spark.plans import REGISTRY
    from gmall_realtime_flink_spark.session import get_spark

    # Production twins verified against their ORACLE SIBLING's SQL:
    # same output contract (pytest-pinned parity within 2e-6 + same
    # key sets; 6dp rounding absorbs the summation-order difference
    # in these moments), different execution kernel. Used by the
    # sf100 tier where the expr fold is oracle-only cost (r9: the
    # fold spent 1815 s on what the BLAS twin does in 18 s — the fold
    # stays cross-engine-verified at sf10, VERDICT r9 item 4).
    TWINS = {
        "dedup_embedding_cosine_numpy": "dedup_embedding_cosine",
        "dedup_semantic_numpy": "dedup_semantic",
    }
    if name in TWINS:
        from gmall_realtime_flink_spark.catalog import load as _load
        from gmall_realtime_flink_spark.operators import similarity as _sim

        sibling = REGISTRY[TWINS[name]]
        kernel = {
            "dedup_embedding_cosine_numpy":
                lambda s, d: _sim.embedding_near_dup_pairs_numpy(
                    _load(s, d, "embeddings"), threshold=0.4),
            "dedup_semantic_numpy":
                lambda s, d: _sim.semantic_dedup_numpy(
                    _load(s, d, "embeddings"), threshold=0.4),
        }[name]
        spec = type(sibling)(
            name=name, builder=kernel, oracle=sibling.oracle,
            doc=f"BLAS production twin of {TWINS[name]}",
            tags=sibling.tags,
        )
    else:
        spec = REGISTRY[name]
    assert spec.oracle, f"{name} has no SQL oracle"
    oracle_sql = spec.oracle
    if os.environ.get("SPARK_GRAFT_ORACLE_REWRITE") and name in ORACLE_REWRITES:
        oracle_sql = ORACLE_REWRITES[name]
        print(f"oracle rewrite active for {name} (see ORACLE_REWRITES)",
              flush=True)
    spark = get_spark("verify_agg_scale")

    t0 = time.time()
    df = spec.builder(spark, sf_dir)
    dtypes = dict(df.dtypes)
    num_cols = [c for c, t in df.dtypes if t in NUMERIC]
    str_cols = [c for c, t in df.dtypes if t not in NUMERIC]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in num_cols:
        d = F.col(c).cast("decimal(38,6)")
        aggs += [
            F.sum(d).alias(f"sum_{c}"),
            F.sum(d * d).alias(f"sumsq_{c}"),
            F.min(F.col(c)).alias(f"min_{c}"),
            F.max(F.col(c)).alias(f"max_{c}"),
        ]
    for c in str_cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    got = {k: str(v) for k, v in df.agg(*aggs).collect()[0].asDict().items()}
    t_spark = time.time() - t0

    # `got` is a plain dict of strings — nothing lazy references the
    # session anymore, so release the JVM (a 64g driver heap under the
    # sf100 knobs) BEFORE the DuckDB phase: the big oracles
    # (product_stats' 503M-group aggregate) otherwise compete with a
    # resident heap they'll never use again and die on allocation
    # (measured r11: bad-alloc at ~60 GB with the JVM held; the r11
    # re-run after this fix died on DISK (ENOSPC) — preflight_disk()
    # now front-runs that; the r12 first attempt died a THIRD way,
    # kernel-OOM at 92 GB RSS under DuckDB's default memory_limit —
    # the explicit 48 GB cap + spill dir below bounds that).
    spark.stop()

    t0 = time.time()
    con = duckdb.connect()
    # Bound the oracle's RAM and let it SPILL instead of dying: the
    # r12 tier's product_stats oracle was kernel-OOM-killed at 92 GB
    # anon RSS — DuckDB's default memory_limit (80% of the 125 GB
    # box) exceeds what the machine can actually grant once page
    # cache and the tier harness are accounted for. 48 GB in-memory
    # + an explicit temp_directory turns the 503M-group aggregate
    # into an out-of-core one; preserve_insertion_order=false lets
    # the aggregate stream (we compare order-insensitive moments, so
    # order is free to give away).
    mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM", "48GB")
    con.execute(f"SET memory_limit='{mem}'")
    thr = os.environ.get("SPARK_GRAFT_ORACLE_THREADS")
    if thr:  # fewer threads -> less per-thread aggregate state
        con.execute(f"SET threads={int(thr)}")
    con.execute("SET preserve_insertion_order=false")
    spill = os.path.abspath(".local/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        # tolerate partial corpora (the zipf dirs carry only
        # documents/embeddings)
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
    o_aggs = ["count(*) AS n"]
    for c in num_cols:
        if dtypes[c] in ("float", "double"):
            # Align the float->decimal CAST with Spark's: Spark goes
            # through the double's SHORTEST round-trip string
            # (BigDecimal(Double.toString(d))), DuckDB scales the
            # exact binary value. Identical doubles then diverge at
            # 6dp once |x| > ~1e9 (double ulp > 1e-6) — measured at
            # sf100: province_stats order_amount sums differed
            # .470000 vs .470848 on bit-identical per-row values.
            # Casting DuckDB's side through VARCHAR reproduces
            # Spark's semantics exactly (verified incl. the
            # 0.0000005 rounding boundary).
            d = f'CAST(CAST("{c}" AS VARCHAR) AS DECIMAL(38,6))'
        else:
            d = f'CAST("{c}" AS DECIMAL(38,6))'
        o_aggs += [
            f'sum({d}) AS "sum_{c}"',
            # round(.,6) mirrors Spark's precision-loss HALF_UP on the
            # (38,6)x(38,6) product (squares are non-negative, so
            # half-away == half-up; exact-half probe agrees engines)
            f'sum(round({d} * {d}, 6)) AS "sumsq_{c}"',
            f'min("{c}") AS "min_{c}"',
            f'max("{c}") AS "max_{c}"',
        ]
    for c in str_cols:
        o_aggs.append(f'count(DISTINCT "{c}") AS "nd_{c}"')
    row = con.execute(
        f"SELECT {', '.join(o_aggs)} FROM ({oracle_sql}) q"
    ).fetchone()
    cols = [d[0] for d in con.description]
    want = {k: str(v) for k, v in zip(cols, row)}
    t_oracle = time.time() - t0

    # normalize decimal trailing representations: compare as Decimal
    from decimal import Decimal

    def norm(d):
        out = {}
        for k, v in d.items():
            try:
                out[k] = Decimal(v)
            except Exception:  # noqa: BLE001
                out[k] = v
        return out

    ok = norm(got) == norm(want)
    report = {
        "query": name,
        "sf_dir": sf_dir,
        "ok": ok,
        "rows": got.get("n"),
        "spark_sec": round(t_spark, 1),
        "oracle_sec": round(t_oracle, 1),
        "preflight_free_gb": free_gb,
        "aggregates": got,
        "dtypes": dtypes,
    }
    if not ok:
        report["mismatch"] = {
            k: {"spark": got.get(k), "duckdb": want.get(k)}
            for k in set(got) | set(want)
            if str(norm(got).get(k)) != str(norm(want).get(k))
        }
    print(json.dumps({k: report[k] for k in ("query", "ok", "rows", "spark_sec", "oracle_sec")}))
    if not ok:
        print(json.dumps(report["mismatch"], indent=1))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
