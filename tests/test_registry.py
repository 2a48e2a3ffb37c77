"""Registry invariants for the driver contract: every entry is well
formed and oracle-gated, results do not depend on the partitioning,
the oracle gate flags corrupted results, and the standing adversarial
gates cover the whole registry.
"""

from __future__ import annotations

from gmall_realtime_flink_spark.plans import REGISTRY, QuerySpec


def test_every_entry_is_well_formed():
    for name, spec in REGISTRY.items():
        assert isinstance(spec, QuerySpec)
        assert callable(spec.builder), name
        assert spec.doc, name
        assert spec.tags, name
        # EVERY entry carries a DuckDB oracle: nothing in this registry
        # settles for the driver's weaker rows-only check
        assert spec.oracle, name


def test_tool_name_lists_are_registered():
    """The sf100 tier and the PLANS.md generator name registry entries
    by string; a retired entry left in either list fails only when the
    tool is next run, at scale. Every name must be registered."""
    from tools.gen_plans import CORE, EXTRA
    from tools.verify_sf100 import RUN_ORDER

    for tool, names in (("verify_sf100", RUN_ORDER), ("gen_plans", CORE + EXTRA)):
        missing = [n for n in names if n not in REGISTRY]
        assert not missing, (tool, missing)


import pytest
from pyspark.sql import SparkSession


PARTITION_INVARIANCE_SAMPLE = [
    "visitor_stats",          # windowed agg + decimal sums
    "product_stats",          # two-phase agg + broadcast join
    "dedup_minhash_lsh",      # banded self-join
    "similarity_topk",        # top-k rank
    "dedup_cluster",          # iterative propagation
    "top_products_per_month", # partitioned row_number
    "segment_running_total",  # partitioned running sum over a decimal
    "daily_gmv_moving_7d",    # RANGE-frame window
    "user_sessions_native",   # session windows + ordinal
    "order_wide",             # interval join (DWM order-wide)
    "payment_wide",           # asymmetric interval join (DWM payment-wide)
]


@pytest.mark.parametrize("name", PARTITION_INVARIANCE_SAMPLE)
def test_result_is_partition_invariant(spark, sf_dir, name):
    """The determinism contract behind every oracle: results must not
    depend on the shuffle-partition count (float-sum ordering, rand(),
    first()-style nondeterminism would all break this). One family
    representative per plan shape runs at 3 partitions vs the session
    default and must produce identical sorted rows."""
    from gmall_realtime_flink_spark.plans import REGISTRY

    base = [
        tuple(str(v) for v in r)
        for r in REGISTRY[name].builder(spark, sf_dir).collect()
    ]
    # getOrCreate() returns the SAME session — capture the original
    # shuffle-partition count BEFORE overriding, or the finally block
    # would read back the override and "restore" 3 for the whole suite.
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    alt_spark = (
        SparkSession.builder.config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        alt = [
            tuple(str(v) for v in r)
            for r in REGISTRY[name].builder(alt_spark, sf_dir).collect()
        ]
    finally:
        alt_spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert sorted(base) == sorted(alt)


def test_oracle_gate_catches_corruption(spark, sf_dir):
    """Watchdog meta-test: the compare harness must FLAG a corrupted
    result, not just pass correct ones — one assert per failure class
    the driver's gate distinguishes (values, row count, column names,
    dtypes). Guards against a future harness edit that silently
    weakens the gate (e.g. lossy canonicalization or a dtype-blind
    compare)."""
    from pyspark.sql import functions as F

    from gmall_realtime_flink_spark.oracle import compare_query
    from gmall_realtime_flink_spark.plans import REGISTRY
    from gmall_realtime_flink_spark.plans.registry import QuerySpec

    base = REGISTRY["keyword_stats_mixed"]

    def spec_with(mutate):
        return QuerySpec(
            name="corrupted",
            builder=lambda sp, sf: mutate(base.builder(sp, sf)),
            oracle=base.oracle,
        )

    sane = compare_query(spark, base, sf_dir)
    assert sane.ok, sane.detail

    corruptions = {
        "value": lambda df: df.withColumn("ct", F.col("ct") + F.lit(1)),
        "row_count": lambda df: df.limit(5),
        "column_name": lambda df: df.withColumnRenamed("ct", "count"),
        "dtype": lambda df: df.withColumn("ct", F.col("ct").cast("double")),
    }
    for kind, mutate in corruptions.items():
        res = compare_query(spark, spec_with(mutate), sf_dir)
        assert not res.ok, f"gate failed to catch {kind} corruption"


def test_standing_gates_cover_full_registry():
    """Gate-coverage drift guard (r8 VERDICT item 1): every REGISTRY
    entry must appear in the latest adversarial-corpus and
    empty-corpus gate artifacts (ADVERSARIAL_r*.json /
    ADVERSARIAL_EMPTY_r*.json under artifacts/r*/), or in the declared
    exclusion list below with a reason. In r8 one entry
    (dedup_simhash_hamming_wide_capped) was registered after the
    hostile-rows run and silently skipped the standing gate; this
    test makes that impossible — registering a new entry forces a
    gate refresh (tools/verify_adversarial.py) before the suite goes
    green again."""
    import glob
    import json
    import os
    import re

    # name -> reason; empty today: every entry runs under both gates
    EXCLUDED: dict[str, str] = {}

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def latest(pattern: str) -> str:
        paths = glob.glob(os.path.join(root, "artifacts", "r*", pattern))
        assert paths, f"no gate artifact matching {pattern}"
        # rounds sort numerically (r08 < r09 < r10); artifacts are
        # committed per-round so lexical-with-zero-pad works, but
        # parse the number to survive r9 vs r10
        def rnum(p: str) -> int:
            m = re.search(r"_r(\d+)\.json$", p)
            return int(m.group(1)) if m else -1

        return max(paths, key=rnum)

    want = set(REGISTRY) - set(EXCLUDED)
    for pattern in ("ADVERSARIAL_r*.json", "ADVERSARIAL_EMPTY_r*.json"):
        path = latest(pattern)
        with open(path) as f:
            art = json.load(f)
        checked = set(art["results"])
        missing = sorted(want - checked)
        assert not missing, (
            f"{os.path.basename(path)} is stale: registry entries never "
            f"run under this gate: {missing} — refresh with "
            "tools/verify_adversarial.py (and gen_adversarial.py)"
        )
        assert not art["bad"], f"{path} records failures: {art['bad']}"
