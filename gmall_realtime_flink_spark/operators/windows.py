"""Windowed aggregation operators (SURVEY §2.7 A1-A6).

Reference semantics: keyed tumbling event-time windows (10 s) with
incremental reduce, then window-bound metadata injection as
``stt``/``edt`` strings — RT/app/dws/VisitorStatsApp.java:156-196,
RT/app/dws/ProductStatsApp.java:263-312, ProvinceStatsSqlApp.java:53-61.

Spark-first design: `F.window` tumbling buckets + `groupBy().agg()`.
Catalyst plans this as partial (map-side) aggregation → single shuffle
on (window, keys) → final aggregation, which is exactly the Flink
"incremental reduce then window function" split, but vectorized and
whole-stage-codegen'd. At 100 TB the shuffle is the cost: partial agg
collapses each map partition to ~|keys×windows| rows before the
exchange, so the shuffled volume scales with key-cardinality, not
input rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def stamp_window_bounds(df: DataFrame, window_col: str = "w") -> DataFrame:
    """A2: inject window start/end as formatted strings (stt/edt).

    Mirrors the ProcessWindowFunction stamping in
    RT/app/dws/VisitorStatsApp.java:183-195.
    """
    return df.withColumn(
        "stt", F.date_format(F.col(f"{window_col}.start"), TS_FMT)
    ).withColumn(
        "edt", F.date_format(F.col(f"{window_col}.end"), TS_FMT)
    ).drop(window_col)


def tumble_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """A1/A3/A4/A5: keyed tumbling event-time window aggregation.

    Windows are epoch-aligned (same origin as Flink's
    TumblingEventTimeWindows), so bucket boundaries agree with the
    DuckDB oracle's `time_bucket`.
    """
    grouped = df.groupBy(F.window(ts_col, duration).alias("w"), *keys).agg(*aggs)
    return stamp_window_bounds(grouped)
