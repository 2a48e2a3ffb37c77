"""Regenerate PLANS.md: AQE-final executed physical plans for a core
set of warehouse and curation reads plus hand-picked scale-critical
ones.

Usage: python tools/gen_plans.py [sf_dir]

Each query is executed (noop write, so AQE finalizes every stage) and
the *executed* plan — not the initial static one — is captured from
``df._jdf.queryExecution().executedPlan()``, then abridged to the
operator skeleton (long field lists elided) so diffs stay readable.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_realtime_flink_spark.plans import REGISTRY  # noqa: E402
from gmall_realtime_flink_spark.session import get_spark  # noqa: E402

# the core set: the warehouse's windowed/joined/aggregated reads, the
# three canonical curation reads and the TPC-H pricing summary
CORE = [
    "visitor_stats",
    "order_wide",
    "order_enriched",
    "product_stats",
    "province_stats",
    "product_stats_union",
    "keyword_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk",
    "pricing_summary",
]

# scale-critical queries whose plan shape is cited in SCALE.md /
# docstrings
EXTRA = [
    "market_share",
    "important_parts",
    "waiting_suppliers",
    "bracket_revenue",
    "dominant_suppliers",
    "knn_graph",
    "doc_decontaminate",
    "span_dedup",
    "embedding_pq_codes",
    "similarity_topk_filtered",
    "dedup_pagerank",
    "dedup_incremental",
    "order_customer_salted",
    "user_sessions_native",
    "purchase_dim_temporal_join",
    "user_retention_cohorts",
    "daily_gmv_moving_7d",
    "repeat_buyer_intersect",
    "dedup_cluster",
    "brand_price_iqr_udaf",
    "dedup_minhash_lsh_capped",
    "similarity_recall_curve",
    "dedup_jaccard_complete",
    "contrastive_hard_negatives",
    "dedup_incremental_minhash",
    "doc_novelty_score",
    "dedup_jaccard_complete_capped",
    "dedup_pagerank_capped",
    # r12: the re-split + batch-ANN family (plan pins in
    # tests/test_plans.py cite these shapes)
    "dedup_semantic_resplit",
    "similarity_topk_batch",
    "similarity_topk_ivf_batch",
]


def abridge(plan: str, max_lines: int = 60) -> str:
    out = []
    for line in plan.splitlines():
        # mask Spark's session-global expression ids (`col#27`) and
        # exchange ids (`plan_id=95`): they shift whenever an earlier
        # section's plan changes, so unmasked they churn every section
        line = re.sub(r"#\d+", "#_", line)
        line = re.sub(r"plan_id=\d+", "plan_id=_", line)
        # elide long bracketed field lists but keep operator + keys
        line = re.sub(r"\[([^\]]{90,})\]", "[...]", line)
        line = line.rstrip()
        if len(line) > 150:
            line = line[:150]
        out.append(line)
        if len(out) >= max_lines:
            out.append("   ... (truncated)")
            break
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="gen_plans", cpus=8)
    sections = []
    for name in CORE + EXTRA:
        df = REGISTRY[name].builder(spark, sf_dir)
        # collect() (not a noop write) so THIS DataFrame's own
        # QueryExecution is the one that runs — its executedPlan is
        # then the AQE-final plan, not the initial static one
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        sections.append(f"## {name}\n\n```\n{abridge(plan)}\n```\n")
        print(f"done: {name}", file=sys.stderr)

    header = (
        "# PLANS — executed physical plans (auto-generated, "
        f"{os.path.basename(sf_dir)}, AQE final)\n\n"
        "Evidence for the plan-shape claims in SCALE.md and the "
        "per-query docstrings: each section is the AQE-final executed "
        "plan (post-execution), abridged to the operator skeleton.\n"
        "Regenerate with `python tools/gen_plans.py`.\n\n"
    )
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))


if __name__ == "__main__":
    main()
