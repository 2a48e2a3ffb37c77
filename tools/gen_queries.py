"""Regenerate QUERIES.md from plans/REGISTRY.

Usage: python tools/gen_queries.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_realtime_flink_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    n = len(REGISTRY)
    lines = [
        "# QUERIES — the full registry (auto-generated from plans/REGISTRY)",
        "",
        f"All {n} entries are `queries()` keys with DuckDB `oracle_sql()`",
        "twins, hash-checked by `tests/test_oracle.py`.",
        "Regenerate with `python tools/gen_queries.py`.",
        "",
        "| Query | Tags | What it does |",
        "|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        s = REGISTRY[name]
        doc = " ".join((s.doc or "").split())
        if len(doc) > 420:
            doc = doc[:417] + "..."
        doc = doc.replace("|", "\\|")
        tags = ", ".join(s.tags or ())
        lines.append(f"| `{name}` | {tags} | {doc} |")
    out = os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {n} entries")


if __name__ == "__main__":
    main()
