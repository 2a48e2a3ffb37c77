"""Local DuckDB-oracle comparison harness.

Mirrors the driver's correctness gate: for each QuerySpec run the
Spark plan and the DuckDB SQL over the same parquet files, then compare
row count, column set, and order-insensitive values (columns sorted by
name, rows sorted by all columns).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from gmall_realtime_flink_spark.catalog import TABLES, table_path
from gmall_realtime_flink_spark.plans.registry import QuerySpec


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        if t == "events":
            # mirror catalog.load's measure quarantine: non-finite
            # `value` is NULL at the scan in BOTH engines (DuckDB
            # raises on CAST(NaN AS DECIMAL)/stddev(NaN); money
            # consumers require finite inputs by contract)
            con.execute(
                f"CREATE VIEW {t} AS SELECT * REPLACE ("
                "CASE WHEN isnan(value) OR isinf(value) THEN NULL "
                "ELSE value END AS value) "
                f"FROM read_parquet('{table_path(sf_dir, t)}')"
            )
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canonicalize(df: pd.DataFrame, float_decimals: int = 6) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(float_decimals)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: round(v, float_decimals)
                if isinstance(v, float) and not math.isnan(v)
                else v
            )
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(
        drop=True
    )


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""


def compare_query(
    spark: SparkSession, spec: QuerySpec, sf_dir: str
) -> CompareResult:
    got = spec.builder(spark, sf_dir).toPandas()
    if spec.oracle is None:
        # Anti-padding guard, intentionally stricter than "ran without
        # error": an oracle-less query must produce at least one row so
        # a no-op plan can't pass the gate silently.
        ok = len(got) > 0
        return CompareResult(
            spec.name,
            ok,
            f"rows-only anti-padding check (>0 required): {len(got)} rows",
        )
    with duckdb_connect(sf_dir) as con:
        want = con.execute(spec.oracle).fetchdf()
    if len(got) != len(want):
        return CompareResult(
            spec.name, False, f"row count: spark={len(got)} oracle={len(want)}"
        )
    if sorted(got.columns) != sorted(want.columns):
        return CompareResult(
            spec.name,
            False,
            f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}",
        )
    # Dtype-strict, stringified compare — mirrors the driver's value hash,
    # which stringifies cells (so bigint 946 != float64 946.0). A green
    # local run must predict a green CORRECTNESS entry.
    g, w = canonicalize(got).astype(str), canonicalize(want).astype(str)
    if not g.equals(w):
        mism = (g != w).any(axis=1)
        sample = ""
        if mism.any():
            i = mism.idxmax()
            sample = (
                f"first mismatch row {i}: spark={g.loc[i].to_dict()} "
                f"oracle={w.loc[i].to_dict()}"
            )
        else:
            sample = "dtype/order mismatch with equal string cells"
        return CompareResult(spec.name, False, sample)
    return CompareResult(spec.name, True, f"{len(got)} rows match")
