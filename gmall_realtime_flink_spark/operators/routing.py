"""Stream splitting / dynamic routing (SURVEY §2.4 R1-R2, §2.2 P1/P4/P6/P7).

The reference's BaseDBApp consumes one CDC stream and routes each row
to a per-table sink chosen from a MySQL config table
(RT/app/func/TableProcessFunction.java:181-228), pruning columns to the
configured list (:231-246) and normalizing Maxwell ``bootstrap-insert``
to ``insert`` (:189-194). BaseLogAPP splits one log stream 3 ways via
side outputs (RT/app/dwd/BaseLogAPP.java:141-198).

Spark-first design: routing is a column (`sink_table`), not a side
output. One scan stamps the route; sinks either honor a per-row topic
column (Kafka sink does natively) or a `foreachBatch` writes each
`partitionBy("sink_table")` group — one shuffle-free pass, because
`partitionBy` at write time splits files without an exchange.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def etl_filter(df: DataFrame, required: Sequence[str], min_len_col: str | None = None,
               min_len: int = 3) -> DataFrame:
    """P4: drop malformed envelopes (RT/app/dwd/BaseDBApp.java:66-72)."""
    cond = None
    for c in required:
        this = F.col(c).isNotNull()
        cond = this if cond is None else (cond & this)
    if min_len_col is not None:
        cond = cond & (F.length(F.col(min_len_col)) >= min_len)
    return df.filter(cond)


def normalize_cdc_type(df: DataFrame, type_col: str = "type") -> DataFrame:
    """P6: Maxwell bootstrap-insert → insert (TableProcessFunction.java:189-194)."""
    return df.withColumn(
        type_col,
        F.when(F.col(type_col) == "bootstrap-insert", F.lit("insert")).otherwise(
            F.col(type_col)
        ),
    )


def route(df: DataFrame, routing: Mapping[str, str], key_col: str,
          default: str = "dwd_other") -> DataFrame:
    """R2: stamp a `sink_table` column from a config mapping.

    The config table is tiny (one row per source table) — at any scale
    it rides along as a CASE expression / broadcast map rather than a
    join, so routing adds zero shuffles.
    """
    expr = None
    for k, sink in sorted(routing.items()):
        this = F.when(F.col(key_col) == k, F.lit(sink))
        expr = this if expr is None else expr.when(F.col(key_col) == k, F.lit(sink))
    expr = expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)
    return df.withColumn("sink_table", expr)


def route_with_config(
    df: DataFrame,
    config_df: DataFrame,
    source_col: str,
    type_col: str,
) -> DataFrame:
    """R2/S8 real form: route CDC rows by joining the *config table*
    (the reference polls MySQL `table_process` into a keyed map every
    5 s, TableProcessFunction.java:43-64; here the config DataFrame is
    broadcast per batch — same freshness, no per-record lookup).

    Config schema: (source_table, operate_type, sink_table,
    sink_columns). Rows with no config entry are dropped, matching the
    reference's "no that key in config" branch (:222-227).
    """
    cond = (F.col(source_col) == config_df["source_table"]) & (
        F.col(type_col) == config_df["operate_type"]
    )
    return df.join(F.broadcast(config_df), cond, "inner")


def prune_data_map(data_map, sink_columns):
    """P7 on dynamic records: keep only the JSON-object keys named in
    the config's comma-separated `sink_columns`
    (TableProcessFunction.java:231-246 filters the fastjson entrySet).
    """
    keep = F.split(sink_columns, ",")
    return F.map_filter(data_map, lambda k, v: F.array_contains(keep, k))
