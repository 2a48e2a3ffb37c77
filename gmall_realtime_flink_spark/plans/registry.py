"""QuerySpec registry — single source of truth for queries()/oracle_sql().

Parity rules that keep the Spark result and the DuckDB oracle
hash-identical (the driver sorts columns by name, then hashes values):

- alias EVERY computed column identically on both sides;
- timestamps / dates in output are formatted to strings
  (`yyyy-MM-dd HH:mm:ss` / `%Y-%m-%d %H:%M:%S`) — never raw temporal
  types, whose wire representation differs between engines;
- floating-point aggregates are `round()`ed (2dp money, 4-6dp ratios)
  on both sides — summation order differs between engines, rounding
  absorbs the ulp noise;
- row-level outputs carry their natural key so results are a set, not
  an ordered list (the compare is order-insensitive);
- top-k outputs rank on (rounded measure, natural key) so ties break
  identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

BuilderFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: BuilderFn
    oracle: str | None  # DuckDB SQL over the same parquet views; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[BuilderFn], BuilderFn]:
    def deco(fn: BuilderFn) -> BuilderFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            tags=tags,
        )
        return fn

    return deco
