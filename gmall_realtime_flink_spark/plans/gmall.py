"""Gmall-parity queries: every SURVEY §2 operator family instantiated
on the driver testdata (FIXTURES.md §7 mapping: events→page_log,
orders→order_info, lineitem→order_detail, customer/nation/region/part/
supplier→dim tables, documents→search keywords).

Each query = a Spark DataFrame plan + an equivalent DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.functions.compat import (
    cents_sum,
    dec_round,
    dec_sum,
)
from gmall_realtime_flink_spark.operators.joins import dim_enrich, interval_join
from gmall_realtime_flink_spark.operators.routing import (
    etl_filter,
    normalize_cdc_type,
    prune_data_map,
    route,
    route_with_config,
)
from gmall_realtime_flink_spark.operators.stateful import (
    jump_detect,
    repair_is_new,
    session_entry,
    uv_dedup,
)
from gmall_realtime_flink_spark.operators.union import (
    project_to_skeleton,
    union_streams,
)
from gmall_realtime_flink_spark.operators.windows import tumble_agg
from gmall_realtime_flink_spark.plans.registry import register

# ---------------------------------------------------------------------------
# DWS: windowed stats (A1/A2/W3 — VisitorStatsApp)
# ---------------------------------------------------------------------------


@register(
    "visitor_stats",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           count(*) AS pv_ct,
           count(DISTINCT user_id) AS uv_ct,
           round(sum(CAST(value AS DECIMAL(28,4))), 2)::DOUBLE AS dur_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="A1/A2: keyed 10 s tumbling window agg with stt/edt stamping "
    "(RT/app/dws/VisitorStatsApp.java:156-196).",
    tags=("window", "agg"),
)
def visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    out = tumble_agg(
        events,
        ts_col="ts",
        duration="10 seconds",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            cents_sum("value").alias("dur_sum"),
        ],
    )
    return out.select("stt", "edt", "event_type", "pv_ct", "uv_ct", "dur_sum")


# ---------------------------------------------------------------------------
# DWM stateful trio (ST1/ST2/ST3) — batch-exact window-function forms
# ---------------------------------------------------------------------------


@register(
    "unique_visit",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d') AS visit_date,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           count(*) AS visit_ct
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """,
    doc="ST2: daily UV dedup — first visit per (user, day), 1-day TTL made "
    "explicit as day bucketing (RT/app/dwm/UniqueVisitApp.java:66-124).",
    tags=("stateful", "dedup"),
)
def unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uv_dedup(load(spark, sf_dir, "events"), key="user_id", ts_col="ts")


@register(
    "visitor_repair",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d') AS visit_date,
           CASE WHEN ts::DATE = min(ts::DATE) OVER (PARTITION BY user_id)
                THEN 1 ELSE 0 END AS is_new
    FROM events
    """,
    doc="ST1: new/old-visitor flag repair via per-key first-visit date "
    "(RT/app/dwd/BaseLogAPP.java:74-130).",
    tags=("stateful",),
)
def visitor_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return repair_is_new(events, key="user_id", ts_col="ts").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("visit_date"),
        "is_new",
    )


@register(
    "user_jump",
    oracle="""
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS jump_ts
    FROM (
      SELECT event_id, user_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      FROM events
    )
    WHERE next_ts IS NULL
       OR date_diff('millisecond', ts, next_ts) > 600000
    """,
    doc="ST3: CEP bounce detection — entry not followed within the window; "
    "batch-exact lead() form of the timeout side-output "
    "(RT/app/dwm/UserJumpApp.java:88-158).",
    tags=("stateful", "cep"),
)
def user_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    jumps = jump_detect(events, key="user_id", ts_col="ts", gap_ms=600_000)
    return jumps.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("jump_ts"),
    )


@register(
    "session_entry",
    oracle="""
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS entry_ts
    FROM (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    WHERE prev_ts IS NULL
       OR date_diff('millisecond', prev_ts, ts) > 600000
    """,
    doc="P5: entry-event detection — the `last_page_id is null` session "
    "filter (RT/app/dwm/UniqueVisitApp.java:95-101), derived lag-based "
    "(an event opens a session iff no prior event within the gap) since "
    "the testdata has no page chain.",
    tags=("stateful", "session"),
)
def session_entry_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return session_entry(events, key="user_id", ts_col="ts").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("entry_ts"),
    )


# ---------------------------------------------------------------------------
# DWM wide tables (J1/J2 interval joins, J3 broadcast dim enrichment)
# ---------------------------------------------------------------------------


@register(
    "order_wide",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_partkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date,
           round(o.o_totalprice, 2) AS total_amount,
           round(l.l_extendedprice, 2) AS split_amount
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAYS
    """,
    doc="J1: event-time interval join, band [t, t+30d] relative to the left "
    "side, inclusive both ends (RT/app/dwm/OrderWideApp.java:140-152).",
    tags=("join", "interval"),
)
def order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    l = load(spark, sf_dir, "lineitem").alias("l")
    joined = interval_join(
        o,
        l,
        on=F.col("o.o_orderkey") == F.col("l.l_orderkey"),
        left_ts=F.col("o.o_orderdate"),
        right_ts=F.col("l.l_shipdate"),
        lower="0 seconds",
        upper="30 days",
    )
    return joined.select(
        "o.o_orderkey",
        "l.l_linenumber",
        "l.l_partkey",
        F.date_format("o.o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("l.l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.round("o.o_totalprice", 2).alias("total_amount"),
        F.round("l.l_extendedprice", 2).alias("split_amount"),
    )


@register(
    "payment_wide",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           strftime(l.l_shipdate, '%Y-%m-%d') AS callback_date,
           round(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4)), 2)::DOUBLE
             AS payment_amount
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate - INTERVAL 7 DAYS
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAYS
    """,
    doc="J2: interval join with an asymmetric band [-7d, +90d] "
    "(RT/app/dwm/PaymentWideApp.java:116-131, ±30 min in the reference).",
    tags=("join", "interval"),
)
def payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    l = load(spark, sf_dir, "lineitem").alias("l")
    joined = interval_join(
        o,
        l,
        on=F.col("o.o_orderkey") == F.col("l.l_orderkey"),
        left_ts=F.col("o.o_orderdate"),
        right_ts=F.col("l.l_shipdate"),
        lower="-7 days",
        upper="90 days",
    )
    return joined.select(
        "o.o_orderkey",
        "l.l_linenumber",
        F.date_format("l.l_shipdate", "yyyy-MM-dd").alias("callback_date"),
        dec_round(F.col("l.l_extendedprice") * (1 - F.col("l.l_discount")), 2).alias(
            "payment_amount"
        ),
    )


@register(
    "order_enriched",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
           n.n_name AS nation_name, r.r_name AS region_name,
           CASE WHEN c.c_acctbal < 0 THEN 'debt'
                WHEN c.c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS balance_band
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="J3: chained broadcast dim enrichment with a derived attribute, "
    "replacing the ×6 async Phoenix/Redis lookups "
    "(RT/app/dwm/OrderWideApp.java:156-281; derived col ≈ age calc X4).",
    tags=("join", "broadcast"),
)
def order_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    r = load(spark, sf_dir, "region").alias("r")
    enriched = dim_enrich(
        o,
        [
            (c, F.col("o.o_custkey") == F.col("c.c_custkey")),
            (n, F.col("c.c_nationkey") == F.col("n.n_nationkey")),
            (r, F.col("n.n_regionkey") == F.col("r.r_regionkey")),
        ],
    )
    return enriched.select(
        "o.o_orderkey",
        "o.o_custkey",
        "c.c_name",
        "c.c_mktsegment",
        F.col("n.n_name").alias("nation_name"),
        F.col("r.r_name").alias("region_name"),
        F.when(F.col("c.c_acctbal") < 0, "debt")
        .when(F.col("c.c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("balance_band"),
    )


# ---------------------------------------------------------------------------
# DWS: product / province stats (A3/A4/J4/U1)
# ---------------------------------------------------------------------------


@register(
    "product_stats",
    oracle="""
    SELECT g.l_partkey AS sku_id, p.p_name AS sku_name, p.p_brand AS tm_name,
           g.ship_month, g.order_ct, g.quantity, g.revenue
    FROM (
      SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
             count(DISTINCT l_orderkey) AS order_ct,
             round(sum(CAST(l_quantity AS DECIMAL(28,4))), 2)::DOUBLE AS quantity,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))), 2)::DOUBLE
               AS revenue
      FROM lineitem
      GROUP BY 1, 2
    ) g
    LEFT JOIN part p ON g.l_partkey = p.p_partkey
    """,
    doc="A3+J4: per-sku windowed agg with exact distinct order count, dims "
    "joined AFTER aggregation as in the reference "
    "(RT/app/dws/ProductStatsApp.java:263-397).",
    tags=("agg", "distinct", "join"),
)
def product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").alias("p")
    return _product_stats_over(l, p)


def _product_stats_over(l: DataFrame, p: DataFrame) -> DataFrame:
    # money aggregation in integer cents (the pricing_summary pattern,
    # sf10-proven): the 4dp revenue product becomes a codegen-pure
    # double->long half-up round buffered in DECIMAL(18,0) — exact to
    # 1e24 cents4/group — instead of three per-row BigDecimal casts;
    # l_quantity is integral, so its double sum is exact to 2^53 and
    # the 2dp round is a no-op on both engines. Measured 1.63 -> 1.04 s
    # at sf0.1 (the countDistinct Expand doubles the rows the per-row
    # money expression runs over, so the cast cost counted twice).
    l2 = l.select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        "l_orderkey",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
         + F.lit(0.5)).cast("long").cast("decimal(18,0)").alias("rev_c4"),
    )
    g = (
        l2.groupBy("l_partkey", "ship_month")
        .agg(
            F.countDistinct("l_orderkey").alias("order_ct"),
            F.round(F.sum("l_quantity"), 2).alias("quantity"),
            F.round(F.sum("rev_c4") / 10000, 2)
            .cast("double")
            .alias("revenue"),
        )
        .alias("g")
    )
    # dims joined after the agg — same ordering as the reference (cheaper:
    # |groups| rows hit the join, not |lineitem|)
    out = g.join(F.broadcast(p), F.col("g.l_partkey") == F.col("p.p_partkey"), "left")
    return out.select(
        F.col("g.l_partkey").alias("sku_id"),
        F.col("p.p_name").alias("sku_name"),
        F.col("p.p_brand").alias("tm_name"),
        "g.ship_month",
        "g.order_ct",
        "g.quantity",
        "g.revenue",
    )


@register(
    "product_stats_bucketed",
    oracle="""
    SELECT g.l_partkey AS sku_id, p.p_name AS sku_name, p.p_brand AS tm_name,
           g.ship_month, g.order_ct, g.quantity, g.revenue
    FROM (
      SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
             count(DISTINCT l_orderkey) AS order_ct,
             round(sum(CAST(l_quantity AS DECIMAL(28,4))), 2)::DOUBLE AS quantity,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))), 2)::DOUBLE
               AS revenue
      FROM lineitem
      GROUP BY 1, 2
    ) g
    LEFT JOIN part p ON g.l_partkey = p.p_partkey
    """,
    doc="product_stats over the PRE-BUCKETED lineitem layout "
    "(catalog.bucketed_table: bucketBy l_partkey, built once per "
    "corpus, fingerprint-reused across sessions): HashPartitioning on "
    "l_partkey satisfies ClusteredDistribution(l_partkey, ship_month) "
    "so the whole aggregate — including the two-phase countDistinct — "
    "is EXCHANGE-FREE (0 exchanges vs 2, plan-pinned by "
    "tests/test_plans.py; 1.78x at sf100 per "
    "BUCKETED_AGG_SF100_r08.json). Identical output to product_stats "
    "(same oracle); this is the 100 TB layout answer to the "
    "~|rows| group cardinality that defeats partial aggregation on "
    "the unbucketed scan.",
    tags=("agg", "distinct", "join", "layout", "scale"),
)
def product_stats_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.catalog import bucketed_table

    l = bucketed_table(spark, sf_dir, "lineitem", ("l_partkey",))
    p = load(spark, sf_dir, "part").alias("p")
    return _product_stats_over(l, p)


@register(
    "province_stats",
    oracle="""
    SELECT n.n_name AS province_name, r.r_name AS region_name,
           count(DISTINCT o.o_orderkey) AS order_count,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="A4: SQL tumble + COUNT(DISTINCT) per province "
    "(RT/app/dws/ProvinceStatsSqlApp.java:53-61), nation as province.",
    tags=("agg", "distinct", "sql"),
)
def province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    r = load(spark, sf_dir, "region").alias("r")
    joined = (
        o.join(F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(F.broadcast(n), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .join(F.broadcast(r), F.col("n.n_regionkey") == F.col("r.r_regionkey"))
    )
    return joined.groupBy(
        F.col("n.n_name").alias("province_name"),
        F.col("r.r_name").alias("region_name"),
    ).agg(
        F.countDistinct("o.o_orderkey").alias("order_count"),
        cents_sum("o.o_totalprice").alias("order_amount"),
    )


# ---------------------------------------------------------------------------
# DWS union pipelines (U1/U2 + P8 skeleton projections)
# ---------------------------------------------------------------------------


@register(
    "product_stats_union",
    oracle="""
    WITH src AS (
      SELECT ts,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS sku_id,
             event_type, value
      FROM events
    ),
    u AS (
      SELECT ts, sku_id, 1 AS click_ct, 0 AS display_ct, 0 AS favor_ct,
             0 AS cart_ct, 0 AS order_ct, 0 AS refund_ct, 0 AS comment_ct,
             0.0 AS amount
      FROM src WHERE event_type = 'click'
      UNION ALL
      SELECT ts, sku_id, 0, 1, 0, 0, 0, 0, 0, 0.0 FROM src WHERE event_type = 'view'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 1, 0, 0, 0, 0, 0.0 FROM src WHERE event_type = 'signup'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0, 1, 0, 0, 0, 0.0 FROM src WHERE event_type = 'cart'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0, 0, 1, 0, 0, value FROM src WHERE event_type = 'purchase'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0, 0, 0, 1, 0, 0.0 FROM src WHERE event_type = 'error'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0, 0, 0, 0, 1, 0.0 FROM src WHERE event_type = 'comment'
    )
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           sku_id,
           sum(click_ct)::BIGINT AS click_ct,
           sum(display_ct)::BIGINT AS display_ct,
           sum(favor_ct)::BIGINT AS favor_ct,
           sum(cart_ct)::BIGINT AS cart_ct,
           sum(order_ct)::BIGINT AS order_ct,
           sum(refund_ct)::BIGINT AS refund_ct,
           sum(comment_ct)::BIGINT AS comment_ct,
           round(sum(CAST(amount AS DECIMAL(28,4))), 2)::DOUBLE AS order_amount
    FROM u GROUP BY 1, 2, 3
    """,
    doc="U1+P8+A1/A2: the ProductStatsApp pipeline — 7 per-type event "
    "streams projected onto a shared stats skeleton (measure slots seeded "
    "0/1, RT/app/dws/ProductStatsApp.java:143-238), unionByName'd "
    "(:241-248), then one keyed 10 s tumbling window agg (:263-312). "
    "The 'cart' and 'comment' branches are data-bounded empty (the "
    "synthetic testdata has 5 event types) — shape real, counts 0. "
    "The union is a zero-shuffle plan node; the single downstream shuffle "
    "is on (window, sku).",
    tags=("union", "window", "agg"),
)
def product_stats_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return product_stats_union_core(load(spark, sf_dir, "events"))


def product_stats_union_core(events: DataFrame) -> DataFrame:
    """The U1 pipeline as a pure DataFrame->DataFrame transform: runs
    identically on a batch table and a watermarked stream (asserted in
    tests/test_streaming.py)."""
    src = events.select(
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("sku_id"),
        "event_type",
        "value",
    )
    zero, zerod = F.lit(0), F.lit(0.0)

    def branch(etype: str, **slots) -> DataFrame:
        skeleton = {
            "ts": F.col("ts"),
            "sku_id": F.col("sku_id"),
            "click_ct": slots.get("click_ct", zero),
            "display_ct": slots.get("display_ct", zero),
            "favor_ct": slots.get("favor_ct", zero),
            "cart_ct": slots.get("cart_ct", zero),
            "order_ct": slots.get("order_ct", zero),
            "refund_ct": slots.get("refund_ct", zero),
            "comment_ct": slots.get("comment_ct", zero),
            "amount": slots.get("amount", zerod),
        }
        return project_to_skeleton(
            src.filter(F.col("event_type") == etype), skeleton
        )

    # 7 branches, matching ProductStatsApp.java:241-248 — the 'cart'
    # and 'comment' event types never occur in the synthetic testdata,
    # so those two branches are data-bounded empty: the union SHAPE and
    # their measure slots are real, their counts aggregate to 0
    unioned = union_streams(
        [
            branch("click", click_ct=F.lit(1)),
            branch("view", display_ct=F.lit(1)),
            branch("signup", favor_ct=F.lit(1)),
            branch("cart", cart_ct=F.lit(1)),
            branch("purchase", order_ct=F.lit(1), amount=F.col("value")),
            branch("error", refund_ct=F.lit(1)),
            branch("comment", comment_ct=F.lit(1)),
        ]
    )
    out = tumble_agg(
        unioned,
        ts_col="ts",
        duration="10 seconds",
        keys=["sku_id"],
        aggs=[
            F.sum("click_ct").alias("click_ct"),
            F.sum("display_ct").alias("display_ct"),
            F.sum("favor_ct").alias("favor_ct"),
            F.sum("cart_ct").alias("cart_ct"),
            F.sum("order_ct").alias("order_ct"),
            F.sum("refund_ct").alias("refund_ct"),
            F.sum("comment_ct").alias("comment_ct"),
            dec_sum("amount").alias("order_amount"),
        ],
    )
    return out.select(
        "stt", "edt", "sku_id", "click_ct", "display_ct", "favor_ct",
        "cart_ct", "order_ct", "refund_ct", "comment_ct", "order_amount",
    )


@register(
    "visitor_stats_union",
    oracle="""
    WITH uv AS (
      SELECT min(ts) AS ts FROM events
      GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    ),
    uj AS (
      SELECT ts FROM (
        SELECT ts, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
      ) WHERE next_ts IS NULL OR date_diff('millisecond', ts, next_ts) > 600000
    ),
    u AS (
      SELECT ts, 1 AS pv_ct, 0 AS uv_ct, 0 AS sv_ct, 0 AS uj_ct, value AS dur
      FROM events WHERE event_type = 'view'
      UNION ALL SELECT ts, 0, 1, 0, 0, 0.0 FROM uv
      UNION ALL SELECT ts, 0, 0, 1, 0, 0.0 FROM events WHERE event_type = 'signup'
      UNION ALL SELECT ts, 0, 0, 0, 1, 0.0 FROM uj
    )
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           sum(pv_ct)::BIGINT AS pv_ct,
           sum(uv_ct)::BIGINT AS uv_ct,
           sum(sv_ct)::BIGINT AS sv_ct,
           sum(uj_ct)::BIGINT AS uj_ct,
           round(sum(CAST(dur AS DECIMAL(28,4))), 2)::DOUBLE AS dur_sum
    FROM u GROUP BY 1, 2
    """,
    doc="U2+P8: the VisitorStatsApp pipeline — pv / uv-dedup / session / "
    "jump streams (the latter two derived by the ST2/ST3 operators) "
    "projected to one shape and unioned "
    "(RT/app/dws/VisitorStatsApp.java:80-141), then 10 s tumble agg "
    "(:156-196).",
    tags=("union", "window", "agg", "stateful"),
)
def visitor_stats_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    zero, zerod = F.lit(0), F.lit(0.0)

    def skel(df: DataFrame, **slots) -> DataFrame:
        skeleton = {
            "ts": F.col("ts"),
            "pv_ct": slots.get("pv_ct", zero),
            "uv_ct": slots.get("uv_ct", zero),
            "sv_ct": slots.get("sv_ct", zero),
            "uj_ct": slots.get("uj_ct", zero),
            "dur": slots.get("dur", zerod),
        }
        return project_to_skeleton(df, skeleton)

    pv = skel(
        events.filter(F.col("event_type") == "view"),
        pv_ct=F.lit(1),
        dur=F.col("value"),
    )
    # uv stream = ST2 output (first event per user per day)
    uv_src = events.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.min("ts").alias("ts"))
    uv = skel(uv_src, uv_ct=F.lit(1))
    sv = skel(events.filter(F.col("event_type") == "signup"), sv_ct=F.lit(1))
    # uj stream = ST3 output (bounce events)
    uj = skel(
        jump_detect(events, key="user_id", ts_col="ts", gap_ms=600_000),
        uj_ct=F.lit(1),
    )
    out = tumble_agg(
        union_streams([pv, uv, sv, uj]),
        ts_col="ts",
        duration="10 seconds",
        keys=[],
        aggs=[
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("uv_ct").alias("uv_ct"),
            F.sum("sv_ct").alias("sv_ct"),
            F.sum("uj_ct").alias("uj_ct"),
            cents_sum("dur").alias("dur_sum"),
        ],
    )
    return out.select("stt", "edt", "pv_ct", "uv_ct", "sv_ct", "uj_ct", "dur_sum")


# ---------------------------------------------------------------------------
# Flink-SQL apps re-expressed through spark.sql (A4/A5 with real tumble
# windows, P11/X10 map access, F2/F4 LATERAL VIEW)
# ---------------------------------------------------------------------------


@register(
    "province_stats_sql",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, o.o_orderdate::TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 1 DAY, o.o_orderdate::TIMESTAMP)
                    + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
           n.n_name AS province_name,
           count(DISTINCT o.o_orderkey) AS order_count,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    -- a row with NULL event time cannot be assigned to a window:
    -- Spark's window() generator filters it (TimeWindowing emits an
    -- isnotnull guard), Flink would never watermark it. time_bucket
    -- would instead form a NULL group — exclude explicitly.
    WHERE o.o_orderdate IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    doc="A4 full form: ProvinceStatsSqlApp re-expressed through spark.sql "
    "— DDL-registered views + a TUMBLE window (day-granular: "
    "o_orderdate is a date) + COUNT(DISTINCT) + window start/end "
    "stamping (RT/app/dws/ProvinceStatsSqlApp.java:45-61). Catalyst "
    "plans the same partial-agg + broadcast joins as the DataFrame "
    "form — the SQL text is just another front-end to the same plans.",
    tags=("sql", "window", "agg", "distinct"),
)
def province_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               n.n_name AS province_name,
               count(DISTINCT o.o_orderkey) AS order_count,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)
                    AS DOUBLE) AS order_amount
        FROM {orders} o
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        GROUP BY window(CAST(o.o_orderdate AS TIMESTAMP), '1 day'), n.n_name
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
        nation=load(spark, sf_dir, "nation"),
    )


def doc_keywords(docs: DataFrame) -> DataFrame:
    """(doc_id, keyword) per token of length >= 2 in each document's
    lower-cased text, split on non-letters: the F2 tokenizer
    (RT/app/func/KeywordUDTF.java:16-26). Tokenizing the documents
    before a join to the view events runs the explode once per
    document, not once per joined event; the (event, keyword) multiset
    is the same."""
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("keyword"),
    ).filter(F.length("keyword") >= 2)


@register(
    "keyword_stats_sql",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts),
                    '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           keyword,
           count(*) AS ct,
           'SEARCH' AS source
    FROM (
      SELECT e.ts,
             unnest(regexp_split_to_array(lower(d.text), '[^a-z]+')) AS keyword
      FROM events e
      JOIN documents d
        ON CAST(json_extract_string(e.props, '$.k') AS BIGINT) = d.doc_id
      WHERE e.event_type = 'view'
    )
    WHERE length(keyword) >= 2
    GROUP BY 1, 2, 3
    """,
    doc="A5+P11+X10+F2/F4 full form: KeywordStatsApp re-expressed through "
    "spark.sql — MAP<STRING,STRING> access on the parsed props "
    "(page['item'] analogue), the explode tokenizer (doc_keywords, "
    "run once per document before the join) and a real 10 s TUMBLE "
    "window (RT/app/dws/KeywordStatsApp.java:56-88). The search text "
    "comes from the documents table keyed by the event's item "
    "reference — the same search-log⋈query-text shape as the "
    "reference.",
    tags=("sql", "window", "udtf", "explode"),
)
def keyword_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               d.keyword,
               count(*) AS ct,
               'SEARCH' AS source
        FROM {events} e
        JOIN {doc_keywords} d
          ON CAST(from_json(e.props, 'map<string,string>')['k'] AS BIGINT)
             = d.doc_id
        WHERE e.event_type = 'view'
        GROUP BY window(e.ts, '10 seconds'), d.keyword
        """,
        events=load(spark, sf_dir, "events"),
        doc_keywords=doc_keywords(load(spark, sf_dir, "documents")),
    )


@register(
    "keyword_product_sql",
    oracle="""
    WITH agg AS (
      SELECT p.p_brand,
             sum(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT AS click_ct,
             sum(CASE WHEN l.l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS cart_ct,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS order_ct
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand),
    words AS (
      SELECT unnest(regexp_split_to_array(lower(p_brand), '[^a-z0-9]+')) AS word,
             click_ct, cart_ct, order_ct
      FROM agg),
    unp AS (
      SELECT word, click_ct AS ct, 'CLICK' AS source FROM words
      UNION ALL SELECT word, cart_ct, 'CART' FROM words
      UNION ALL SELECT word, order_ct, 'ORDER' FROM words)
    SELECT word AS keyword, ct, source
    FROM unp WHERE length(word) >= 2 AND ct > 0
    """,
    doc="F4 full form: the double LATERAL cross-apply of "
    "KeywordStats4ProductApp.java:61-66 — tokenizer UDTF × unpivot UDTF "
    "chained as two LATERAL VIEW explodes in one spark.sql query "
    "(ik_analyze ≈ regex split; keywordProduct ≈ filtered struct array).",
    tags=("sql", "udtf", "explode", "unpivot"),
)
def keyword_product_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT word AS keyword, m.ct AS ct, m.source AS source
        FROM (
          SELECT p.p_brand,
                 sum(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END) AS click_ct,
                 sum(CASE WHEN l.l_returnflag = 'A' THEN 1 ELSE 0 END) AS cart_ct,
                 sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS order_ct
          FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand
        ) agg
        LATERAL VIEW explode(split(lower(p_brand), '[^a-z0-9]+')) t1 AS word
        LATERAL VIEW explode(filter(array(
            named_struct('ct', click_ct, 'source', 'CLICK'),
            named_struct('ct', cart_ct, 'source', 'CART'),
            named_struct('ct', order_ct, 'source', 'ORDER')
          ), x -> x.ct > 0)) t2 AS m
        WHERE length(word) >= 2
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
        part=load(spark, sf_dir, "part"),
    )


# ---------------------------------------------------------------------------
# Keyword apps (F2/F3/F4, A5/A6) — tokenizer UDTF surface
# ---------------------------------------------------------------------------


@register(
    "keyword_stats",
    oracle="""
    SELECT keyword, count(*) AS ct, 'SEARCH' AS source
    FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS keyword
      FROM documents
    )
    WHERE length(keyword) >= 2
    GROUP BY keyword
    """,
    doc="F2+A5: tokenize → explode → keyword frequency, tagged SEARCH "
    "(RT/app/func/KeywordUDTF.java:16-26, KeywordStatsApp.java:68-88). "
    "Tokenizer = deterministic regex segmentation (public analogue of IK).",
    tags=("udtf", "explode", "agg"),
)
def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = doc_keywords(load(spark, sf_dir, "documents"))
    return tokens.groupBy("keyword").agg(
        F.count(F.lit(1)).alias("ct"), F.lit("SEARCH").alias("source")
    )


@register(
    "keyword_stats_mixed",
    oracle="""
    SELECT keyword, count(*) AS ct
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[一-鿿]')) AS keyword
      FROM documents
    )
    WHERE length(keyword) >= 2
    GROUP BY keyword
    """,
    doc="F2/X11 mixed-script form: the CJK-aware tokenizer "
    "(functions/cjk.tokenize_mixed — ASCII word runs + CJK unigrams, "
    "the IK out-of-dictionary degradation) feeding keyword frequency; "
    "oracle uses the identical regex in DuckDB.",
    tags=("udtf", "explode", "text"),
)
def keyword_stats_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.functions.cjk import tokenize_mixed

    d = load(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(tokenize_mixed(F.col("text"))).alias("keyword")
    ).filter(F.length("keyword") >= 2)
    return tokens.groupBy("keyword").agg(F.count(F.lit(1)).alias("ct"))


def _cjk_dict_oracle() -> str:
    from gmall_realtime_flink_spark.functions.cjk import dict_pattern

    return f"""
    SELECT keyword, count(*) AS ct
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '{dict_pattern()}')) AS keyword
      FROM documents
    )
    GROUP BY keyword
    """


@register(
    "keyword_stats_cjk_dict",
    oracle=_cjk_dict_oracle(),
    doc="F2/X11 dictionary-grade form: forward-maximum-matching CJK "
    "segmentation (functions/cjk.tokenize_cjk_dict — the IK smart-mode "
    "semantics of RT/utils/KeywordUtil.java:17-41, compiled to a "
    "longest-first regex alternation that runs JVM-side) feeding "
    "keyword frequency. The oracle runs the IDENTICAL pattern in "
    "DuckDB. Testdata documents are ASCII-only, so multi-char CJK "
    "output is pinned by the cross-engine segmentation test on real "
    "Chinese text (tests/test_functions.py::test_cjk_dict_segmentation).",
    tags=("udtf", "explode", "text", "cjk"),
)
def keyword_stats_cjk_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.functions.cjk import tokenize_cjk_dict

    d = load(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(tokenize_cjk_dict(F.col("text"))).alias("keyword")
    )
    return tokens.groupBy("keyword").agg(F.count(F.lit(1)).alias("ct"))


@register(
    "keyword_product_stats",
    oracle="""
    WITH agg AS (
      SELECT p.p_brand,
             sum(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END) AS click_ct,
             sum(CASE WHEN l.l_returnflag = 'A' THEN 1 ELSE 0 END) AS cart_ct,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS order_ct
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand AS keyword, ct, source FROM (
      SELECT p_brand, click_ct::BIGINT AS ct, 'CLICK' AS source FROM agg
      UNION ALL
      SELECT p_brand, cart_ct::BIGINT AS ct, 'CART' AS source FROM agg
      UNION ALL
      SELECT p_brand, order_ct::BIGINT AS ct, 'ORDER' AS source FROM agg
    ) WHERE ct > 0
    """,
    doc="F3/F4+A6: unpivot nonzero measures to (ct, source) rows via stack() "
    "(RT/app/func/KeywordProductUDTF.java:14-38, "
    "KeywordStats4ProductApp.java:61-66).",
    tags=("udtf", "unpivot"),
)
def keyword_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").alias("l")
    p = load(spark, sf_dir, "part").alias("p")
    agg = (
        l.join(F.broadcast(p), F.col("l.l_partkey") == F.col("p.p_partkey"))
        .groupBy("p.p_brand")
        .agg(
            F.sum(F.when(F.col("l.l_returnflag") == "N", 1).otherwise(0)).alias(
                "click_ct"
            ),
            F.sum(F.when(F.col("l.l_returnflag") == "A", 1).otherwise(0)).alias(
                "cart_ct"
            ),
            F.sum(F.when(F.col("l.l_returnflag") == "R", 1).otherwise(0)).alias(
                "order_ct"
            ),
        )
    )
    return agg.selectExpr(
        "p_brand as keyword",
        "stack(3, click_ct, 'CLICK', cart_ct, 'CART', order_ct, 'ORDER') as (ct, source)",
    ).filter(F.col("ct") > 0)


# ---------------------------------------------------------------------------
# DWD nested-log processing (P1/P2/P3/F1) — BaseLogAPP JSON surface
# ---------------------------------------------------------------------------


@register(
    "display_log_explode",
    oracle="""
    WITH src AS (
      SELECT event_id, user_id, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE props IS NOT NULL AND length(props) >= 3
    )
    SELECT event_id,
           user_id AS uid,
           'p' || k AS page_id,
           value AS during_time,
           'sku_' || (k + d.o) AS item,
           'sku_id' AS item_type,
           (d.o + 1)::INT AS display_order
    FROM src CROSS JOIN (SELECT 0 AS o UNION ALL SELECT 1) d
    """,
    doc="P3+P1+F1: the BaseLogAPP nested-JSON path — build the full log "
    "envelope as a JSON string (to_json(struct(...)), the pre-sink map "
    "P3, RT/app/dwm/OrderWideApp.java:285-287), parse it back with "
    "from_json + a nested StructType/ArrayType(Struct) schema (P1, "
    "RT/app/dwd/BaseLogAPP.java:64-70), then explode the displays array "
    "injecting the parent page_id/common fields into each element (F1, "
    "RT/app/dwd/BaseLogAPP.java:166-178). All JVM-side: json codegen + "
    "generator explode; shuffle-free when the events scan already "
    "parallelizes, plus one conditional round-robin spread of the five "
    "narrow input columns when it arrives as a single split "
    "(operators/spread.py, r13 optimization).",
    tags=("json", "explode", "udtf"),
)
def display_log_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load(spark, sf_dir, "events")
    # r13 optimization (guide §1.2 per-task work + §2.5 input skew):
    # 1. evaluate get_json_object ONCE — the envelope references k in
    #    three places, and the interpreted Project (to_json breaks
    #    whole-stage codegen) re-parsed props per reference; a separate
    #    projection holds (CollapseProject does not inline a non-cheap
    #    alias used 3x).
    # 2. the JSON round-trip is pure per-row compute and events arrives
    #    as one unsplittable split at bench SFs, so spread the five
    #    narrow input columns round-robin to the core count — skipped
    #    whenever the scan already parallelizes (production-sized
    #    inputs); see operators/spread.py.
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    src = spread_to_cores(
        etl_filter(
            events, required=["props"], min_len_col="props", min_len=3
        ).select("event_id", "user_id", "event_type", "value", "props")
    )
    src = src.withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    k = F.col("k")
    # P3: serialize the nested envelope to a JSON string
    env = src.select(
        "event_id",
        F.to_json(
            F.struct(
                F.struct(
                    F.col("user_id").alias("uid"),
                    F.col("event_type").alias("ch"),
                ).alias("common"),
                F.struct(
                    F.concat(F.lit("p"), k).alias("page_id"),
                    F.col("value").alias("during_time"),
                ).alias("page"),
                F.array(
                    F.struct(
                        F.concat(F.lit("sku_"), k).alias("item"),
                        F.lit("sku_id").alias("item_type"),
                        F.lit(1).alias("display_order"),
                    ),
                    F.struct(
                        F.concat(F.lit("sku_"), k + 1).alias("item"),
                        F.lit("sku_id").alias("item_type"),
                        F.lit(2).alias("display_order"),
                    ),
                ).alias("displays"),
            )
        ).alias("log"),
    )
    # P1: schema-on-read parse of the envelope
    schema = T.StructType(
        [
            T.StructField(
                "common",
                T.StructType(
                    [
                        T.StructField("uid", T.LongType()),
                        T.StructField("ch", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "page",
                T.StructType(
                    [
                        T.StructField("page_id", T.StringType()),
                        T.StructField("during_time", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField(
                "displays",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("item", T.StringType()),
                            T.StructField("item_type", T.StringType()),
                            T.StructField("display_order", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    parsed = env.select("event_id", F.from_json("log", schema).alias("l"))
    # F1: flatten displays, injecting parent page/common fields
    return parsed.select(
        "event_id",
        F.col("l.common.uid").alias("uid"),
        F.col("l.page.page_id").alias("page_id"),
        F.col("l.page.during_time").alias("during_time"),
        F.explode("l.displays").alias("d"),
    ).select(
        "event_id",
        "uid",
        "page_id",
        "during_time",
        F.col("d.item").alias("item"),
        F.col("d.item_type").alias("item_type"),
        F.col("d.display_order").alias("display_order"),
    )


# ---------------------------------------------------------------------------
# DWD routing (R1/R2, P1/P4/P7) and ADS serving (S12/A7)
# ---------------------------------------------------------------------------


@register(
    "cdc_route",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CASE WHEN event_type = 'view' THEN 'dwd_page_log'
                WHEN event_type = 'click' THEN 'dwd_display_log'
                WHEN event_type = 'signup' THEN 'dwd_start_log'
                WHEN event_type = 'purchase' THEN 'dwd_order_info'
                ELSE 'dwd_other' END AS sink_table
    FROM events
    WHERE props IS NOT NULL AND length(props) >= 3
    """,
    doc="P1+P4+R2: JSON envelope parse, ETL validity filter, config-driven "
    "dynamic routing as a CASE column (RT/app/dwd/BaseDBApp.java:63-92, "
    "RT/app/func/TableProcessFunction.java:181-228).",
    tags=("routing", "json"),
)
def cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    filtered = etl_filter(events, required=["props"], min_len_col="props", min_len=3)
    routed = route(
        filtered,
        routing={
            "view": "dwd_page_log",
            "click": "dwd_display_log",
            "signup": "dwd_start_log",
            "purchase": "dwd_order_info",
        },
        key_col="event_type",
    )
    return routed.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
        "sink_table",
    )


@register(
    "cdc_route_config",
    oracle="""
    WITH cfg(source_table, operate_type, sink_table, sink_columns) AS (
      VALUES ('view', 'insert', 'dwd_page_log', 'k'),
             ('click', 'insert', 'dwd_display_log', 'k'),
             ('signup', 'update', 'dim_user_info', ''),
             ('purchase', 'insert', 'dwd_order_info', 'k')),
    src AS (
      SELECT event_id, event_type,
             CASE event_type
               WHEN 'view' THEN 'insert'
               WHEN 'click' THEN 'bootstrap-insert'
               WHEN 'signup' THEN 'update'
               WHEN 'purchase' THEN 'insert'
               ELSE 'delete' END AS op,
             json_extract_string(props, '$.k') AS k
      FROM events
      WHERE props IS NOT NULL AND length(props) >= 3),
    n AS (
      SELECT event_id, event_type,
             CASE WHEN op = 'bootstrap-insert' THEN 'insert' ELSE op END AS op,
             k
      FROM src)
    SELECT n.event_id, n.event_type, n.op AS cdc_type, c.sink_table,
           CASE WHEN list_contains(string_split(c.sink_columns, ','), 'k')
                THEN '{"k":"' || n.k || '"}' ELSE '{}' END AS pruned_data
    FROM n JOIN cfg c
      ON n.event_type = c.source_table AND n.op = c.operate_type
    """,
    doc="S8+R2+P6+P7 real form: routing driven by a config *table* "
    "(the MySQL table_process analogue, "
    "RT/app/func/TableProcessFunction.java:43-64): ETL filter, "
    "bootstrap-insert normalization (:189-194), broadcast config join "
    "keyed (source_table, operate_type) (:181-228), config-driven "
    "pruning of the dynamic record's keys via map_filter (:231-246). "
    "Unconfigured (table, op) pairs drop, matching the reference.",
    tags=("routing", "config", "json"),
)
def cdc_route_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    config = spark.createDataFrame(
        [
            ("view", "insert", "dwd_page_log", "k"),
            ("click", "insert", "dwd_display_log", "k"),
            ("signup", "update", "dim_user_info", ""),
            ("purchase", "insert", "dwd_order_info", "k"),
        ],
        ["source_table", "operate_type", "sink_table", "sink_columns"],
    )
    src = etl_filter(
        events, required=["props"], min_len_col="props", min_len=3
    ).select(
        "event_id",
        "event_type",
        # synthesize the Maxwell CDC op from the event type (the
        # testdata has no native CDC envelope)
        F.when(F.col("event_type") == "view", "insert")
        .when(F.col("event_type") == "click", "bootstrap-insert")
        .when(F.col("event_type") == "signup", "update")
        .when(F.col("event_type") == "purchase", "insert")
        .otherwise("delete")
        .alias("type"),
        F.from_json("props", "map<string,string>").alias("data"),
    )
    normalized = normalize_cdc_type(src, type_col="type")
    routed = route_with_config(
        normalized, config, source_col="event_type", type_col="type"
    )
    return routed.select(
        "event_id",
        "event_type",
        F.col("type").alias("cdc_type"),
        "sink_table",
        F.to_json(prune_data_map(F.col("data"), F.col("sink_columns"))).alias(
            "pruned_data"
        ),
    )


@register(
    "serving_gmv",
    oracle="""
    SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
           round(sum(CAST(o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE AS order_amount
    FROM orders
    GROUP BY 1
    """,
    doc="S12/A7: ADS serving query — daily GMV "
    "(gmall-publisher ProductStatsMapper.java:16: sum(order_amount) by "
    "toYYYYMMDD(stt)).",
    tags=("serving", "agg"),
)
def serving_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.date_format("o_orderdate", "yyyyMMdd").alias("dt")).agg(
        dec_sum("o_totalprice").alias("order_amount")
    )


# ---------------------------------------------------------------------------
# Beyond-reference batch OLAP (A8 note: free in Spark) — exercised to prove
# the engine covers standard warehouse queries on the same tables
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS sum_base_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,4))), 2)::DOUBLE AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(28,4)))::DOUBLE
                 / count(*), 4) AS avg_price,
           round(sum(CAST(l_discount AS DECIMAL(28,4)))::DOUBLE
                 / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A8 extension: TPC-H Q1-style pricing summary (multi-agg groupBy; "
    "absent from the reference, free under Catalyst). Money columns "
    "aggregate EXACTLY — raw double sums first crossed the 2dp "
    "rounding boundary at sf10 (15M rows/group; float accumulation is "
    "order-dependent) — but NOT via per-row CAST(double AS DECIMAL), "
    "which allocates a BigDecimal per row and cost a measured 4x at "
    "sf0.1 (BENCH_r06 0.643 s vs the 0.160 s double-sum cell). "
    "Instead each money value becomes integer 'cents' with a pure "
    "double/long half-up round (x*10^s + 0.5 -> long — exact here "
    "because the source data has <= s decimal places, so x*10^s is "
    "within ~1e-6 of an integer and never near a .5 tie). "
    "l_extendedprice and l_discount carry 2dp -> scale-2 longs, whose "
    "long sums saturate only past 9.2e16 dollars/group (~16x TPC-H "
    "sf100k ~ 100 TB). The discounted product needs 4dp -> its cents "
    "go through DECIMAL(18,0) so the sum buffer (DECIMAL(28,0), "
    "long-backed fast path until it actually overflows a long) is "
    "exact to 1e24 dollars. Results convert cents -> DECIMAL -> "
    "double so each output sees exactly one decimal->double rounding, "
    "matching the oracle's sum(CAST(.. AS DECIMAL))::DOUBLE "
    "bit-for-bit (a long->double/100 shortcut would round twice and "
    "diverge past 2^53). Quantity sums stay double: integral values, "
    "exact to 2^53. Verified hash-green vs DuckDB at sf0.01/0.1/10.",
    tags=("agg", "olap"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        (F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long").alias("ep_c2"),
        (F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long").alias("disc_c2"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
         + F.lit(0.5)).cast("long").cast("decimal(18,0)").alias("dp_c4"),
    )
    cnt = F.count(F.lit(1))
    ep_d = F.sum("ep_c2").cast("decimal(38,0)") / 100      # exact, 2dp
    disc_d = F.sum("disc_c2").cast("decimal(38,0)") / 100  # exact, 2dp
    dp_d = F.sum("dp_c4") / 10000                          # exact, 4dp
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(ep_d, 2).cast("double").alias("sum_base_price"),
        F.round(dp_d, 2).cast("double").alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(ep_d.cast("double") / cnt, 4).alias("avg_price"),
        F.round(disc_d.cast("double") / cnt, 6).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(28,4))), 2)::DOUBLE AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
    doc="A8 extension (TPC-H Q3 shape): segment-filtered 3-table join + "
    "revenue agg. Scale: both filters push to the scans; customer is "
    "broadcast; the orders⋈lineitem join shuffles on the order key.",
    tags=("olap", "join", "agg"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).alias("c")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    ).alias("o")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    ).alias("l")
    joined = o.join(
        F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey")
    ).join(l, F.col("o.o_orderkey") == F.col("l.l_orderkey"))
    return joined.groupBy(
        "l.l_orderkey",
        F.date_format("o.o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o.o_orderpriority",
    ).agg(
        dec_sum(F.col("l.l_extendedprice") * (1 - F.col("l.l_discount"))).alias(
            "revenue"
        )
    ).select("l_orderkey", "revenue", "order_date", "o_orderpriority")


@register(
    "nation_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           strftime(o.o_orderdate, '%Y-%m') AS order_month,
           count(*)::BIGINT AS order_ct,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
    doc="A8 extension (TPC-H Q5 shape): per-nation monthly revenue "
    "rollup — broadcast dims, single shuffle on (nation, month).",
    tags=("olap", "join", "agg"),
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    joined = o.join(
        F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey")
    ).join(F.broadcast(n), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
    return joined.groupBy(
        F.col("n.n_name").alias("nation"),
        F.date_format("o.o_orderdate", "yyyy-MM").alias("order_month"),
    ).agg(
        F.count(F.lit(1)).alias("order_ct"),
        dec_sum("o.o_totalprice").alias("revenue"),
    )


@register(
    "discount_revenue",
    oracle="""
    SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))), 2)::DOUBLE
             AS promo_revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
      AND l_shipdate < DATE '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="A8 extension (TPC-H Q6 shape): tight-filter scan-and-aggregate "
    "— every predicate pushes to the parquet scan, no join, no "
    "post-shuffle work beyond a scalar merge.",
    tags=("olap", "agg", "pushdown"),
)
def discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "promo_revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "revenue_rollup",
    oracle="""
    SELECT coalesce(n.n_name, 'ALL') AS nation,
           coalesce(strftime(o.o_orderdate, '%Y'), 'ALL') AS order_year,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, strftime(o.o_orderdate, '%Y'))
    -- Spark emits NO grand-total row over empty input (grouping
    -- sets expand per-row; zero rows -> zero groups), ANSI/DuckDB
    -- emit one all-NULL/0 row. HAVING count(*) > 0 is a no-op on
    -- any non-empty input (every real group has >= 1 row) and
    -- pins Spark's empty-input semantics cross-engine.
    HAVING count(*) > 0
    """,
    doc="A8 extension: hierarchical ROLLUP (nation, year) revenue — "
    "grouping-sets family, absent from the reference, native in both "
    "Catalyst (Expand + single shuffle) and the DuckDB oracle.",
    tags=("olap", "rollup", "agg"),
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    joined = o.join(
        F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey")
    ).join(F.broadcast(n), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
    rolled = joined.rollup(
        F.col("n.n_name").alias("nation"),
        F.date_format("o.o_orderdate", "yyyy").alias("order_year"),
    ).agg(dec_sum("o.o_totalprice").alias("revenue"))
    return rolled.select(
        F.coalesce("nation", F.lit("ALL")).alias("nation"),
        F.coalesce("order_year", F.lit("ALL")).alias("order_year"),
        "revenue",
    )


@register(
    "top_products",
    oracle="""
    SELECT sku_id, revenue, rk FROM (
      SELECT l_partkey AS sku_id,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             row_number() OVER (
               ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 2) DESC,
                        l_partkey) AS rk
      FROM lineitem
      GROUP BY l_partkey
    ) WHERE rk <= 10
    """,
    doc="A8 extension: top-k by revenue with deterministic (measure, key) "
    "tie-break.",
    tags=("topk", "window"),
)
def top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    agg = l.groupBy(F.col("l_partkey").alias("sku_id")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    # orderBy().limit() plans TakeOrderedAndProject: each partition keeps
    # its local top-10, the driver merges — no single-partition global
    # sort of |sku| rows (which grows with SF). The row_number window
    # then runs over exactly 10 rows; the constant partition key makes
    # the bounded single partition explicit (no "No Partition Defined"
    # warning for a window that is deliberately post-limit).
    top = agg.orderBy(F.col("revenue").desc(), F.col("sku_id")).limit(10)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("revenue").desc(), F.col("sku_id")
    )
    return top.withColumn("rk", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Semi / anti joins (A8 extension — join-strategy surface Spark adds
# beyond the reference's inner/left joins)
# ---------------------------------------------------------------------------


@register(
    "order_priority_semi",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: LEFT SEMI join (EXISTS) — orders with at least "
    "one deep-discount lineitem, counted per priority. The semi join "
    "never materializes the (order x lineitem) match multiplicity, so "
    "the shuffle carries each order key once; the discount filter is "
    "pushed into the lineitem scan.",
    tags=("join", "semi"),
)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.08)
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "customers_no_orders",
    oracle="""
    SELECT c_mktsegment, count(*)::BIGINT AS customer_ct
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= DATE '2001-01-01')
    GROUP BY c_mktsegment
    """,
    doc="LEFT ANTI join (NOT EXISTS): customers with no recent order "
    "(churn probe), per market segment. Anti join emits each probe row "
    "at most once — no match multiplication; the date filter prunes "
    "the build side at the scan.",
    tags=("join", "anti"),
)
def customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("customer_ct"))
    )


# ---------------------------------------------------------------------------
# X4: age-from-birthday derivation (OrderWideApp.java:167-182)
# ---------------------------------------------------------------------------


@register(
    "user_age",
    oracle="""
    SELECT age, count(*)::BIGINT AS user_ct FROM (
      SELECT CAST(floor(date_diff('day',
               DATE '1950-01-01' + INTERVAL ((c_custkey % 18262)) DAY,
               DATE '2026-08-13') / 365) AS INT) AS age
      FROM customer)
    GROUP BY age
    """,
    doc="X4 parity: age = floor(days-since-birthday / 365) — the "
    "reference divides by exactly 365, not 365.25 "
    "(RT/app/dwm/OrderWideApp.java:167-182); birthday synthesized "
    "deterministically from c_custkey (testdata has no birthday "
    "column), 'now' pinned for reproducibility.",
    tags=("function", "datetime"),
)
def user_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    birthday = F.date_add(
        F.lit("1950-01-01").cast("date"), (F.col("c_custkey") % 18262).cast("int")
    )
    age = F.floor(
        F.datediff(F.lit("2026-08-13").cast("date"), birthday) / 365
    ).cast("int")
    return c.select(age.alias("age")).groupBy("age").agg(
        F.count("*").alias("user_ct")
    )


# ---------------------------------------------------------------------------
# A8 extensions: session windows & per-group top-N
# ---------------------------------------------------------------------------


@register(
    "user_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    y AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS edt,
           count(*)::BIGINT AS event_ct
    FROM y GROUP BY user_id, sid
    """,
    doc="A8 extension: per-user SESSION windows (10-minute inactivity "
    "gap) via F.session_window — the dynamic-gap window family the "
    "reference lacks (it has tumble only); streaming-capable as-is "
    "(session_window works under Structured Streaming with a "
    "watermark). Oracle = classic gaps-and-islands (lag + running "
    "sum); break on gap STRICTLY greater than the duration — "
    "session_window merges an event landing exactly at the previous "
    "window's end (verified empirically, "
    "tests/test_functions.py::test_session_window_exact_gap_merges). "
    "One shuffle on user_id; the window merge is per-key local.",
    tags=("window", "session", "agg"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("event_ct"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_ct",
        )
    )


@register(
    "top_products_per_month",
    oracle="""
    SELECT ship_month, sku_id, revenue, rk FROM (
      SELECT ship_month, sku_id, revenue,
             row_number() OVER (PARTITION BY ship_month
                                ORDER BY revenue DESC, sku_id) AS rk
      FROM (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               l_partkey AS sku_id,
               round(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(28,4))), 2)::DOUBLE AS revenue
        FROM lineitem GROUP BY 1, 2)
    ) WHERE rk <= 3
    """,
    doc="A8 extension: top-N per group — row_number over a PARTITIONED "
    "window (vs top_products' global TakeOrderedAndProject). The "
    "partition key makes this scale-safe: one shuffle on ship_month, "
    "each partition ranks locally; no single-partition global sort.",
    tags=("topk", "window", "agg"),
)
def top_products_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    agg = l.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.col("l_partkey").alias("sku_id"),
    ).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    w = Window.partitionBy("ship_month").orderBy(F.desc("revenue"), "sku_id")
    return agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@register(
    "revenue_cube",
    oracle="""
    SELECT coalesce(o.o_orderstatus, 'ALL') AS order_status,
           coalesce(strftime(o.o_orderdate, '%Y'), 'ALL') AS order_year,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS revenue,
           count(*)::BIGINT AS order_ct
    FROM orders o
    GROUP BY CUBE (o.o_orderstatus, strftime(o.o_orderdate, '%Y'))
    -- Spark emits NO grand-total row over empty input (grouping
    -- sets expand per-row; zero rows -> zero groups), ANSI/DuckDB
    -- emit one all-NULL/0 row. HAVING count(*) > 0 is a no-op on
    -- any non-empty input (every real group has >= 1 row) and
    -- pins Spark's empty-input semantics cross-engine.
    HAVING count(*) > 0
    """,
    doc="A8 extension: full CUBE (status x year) — all 2^n grouping "
    "sets in ONE Expand + one shuffle (Catalyst), vs n separate "
    "groupBy jobs; completes the grouping-sets family next to "
    "revenue_rollup.",
    tags=("olap", "cube", "agg"),
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cubed = o.cube(
        F.col("o_orderstatus").alias("order_status"),
        F.date_format("o_orderdate", "yyyy").alias("order_year"),
    ).agg(
        dec_sum("o_totalprice").alias("revenue"),
        F.count("*").alias("order_ct"),
    )
    return cubed.select(
        F.coalesce("order_status", F.lit("ALL")).alias("order_status"),
        F.coalesce("order_year", F.lit("ALL")).alias("order_year"),
        "revenue",
        "order_ct",
    )


@register(
    "cheapest_supplier_per_part",
    oracle="""
    SELECT l_partkey AS sku_id, l_suppkey AS supplier_id,
           round(l_extendedprice, 2) AS price
    FROM (
      SELECT l_partkey, l_suppkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_partkey
               ORDER BY l_extendedprice, l_suppkey) AS rn
      FROM lineitem)
    WHERE rn = 1
    """,
    doc="TPC-H Q2 shape: argmin-per-group — the cheapest supplying line "
    "per part as a min_by aggregate with a deterministic (price, "
    "suppkey) tie-break key. Unlike a partitioned row_number (which "
    "shuffles every lineitem row on l_partkey before ranking), min_by "
    "partial-aggregates map-side, so the exchange carries |parts| "
    "rows, not |lineitem| — the 100 TB plan.",
    tags=("agg", "argmin", "join"),
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    best = l.groupBy("l_partkey").agg(
        F.min_by(
            F.struct("l_suppkey", "l_extendedprice"),
            F.struct("l_extendedprice", "l_suppkey"),
        ).alias("best")
    )
    return best.select(
        F.col("l_partkey").alias("sku_id"),
        F.col("best.l_suppkey").alias("supplier_id"),
        F.round("best.l_extendedprice", 2).alias("price"),
    )


@register(
    "visitor_stats_sliding",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(ws + INTERVAL 30 SECONDS, '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           count(*) AS pv_ct,
           count(DISTINCT user_id) AS uv_ct
    FROM (
      SELECT ts, event_type, user_id,
             time_bucket(INTERVAL 10 SECONDS, ts) - i * INTERVAL 10 SECONDS AS ws
      FROM events, generate_series(0, 2) AS g(i))
    GROUP BY 1, 2, 3
    """,
    doc="A1 extension: HOPPING (sliding) windows — window(ts, 30s "
    "slide 10s), the overlap family the reference's tumble windows "
    "can't express; every event lands in duration/slide = 3 windows. "
    "Streaming-capable as-is (same window() operator under a "
    "watermark). Oracle expands each event to its 3 containing "
    "windows via generate_series.",
    tags=("window", "sliding", "agg"),
)
def visitor_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = F.window("ts", "30 seconds", "10 seconds")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "pv_ct",
            "uv_ct",
        )
    )


@register(
    "purchase_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (  -- one view per (user, instant): ties at the same ts are
            -- engine-arbitrary in any as-of join, so pre-argmax them
      SELECT user_id, ts, max(event_id) AS view_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           v.view_id AS asof_view_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS asof_view_ts
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    doc="AS-OF JOIN (last-touch attribution): each purchase matched to "
    "the user's most recent prior-or-equal view. DuckDB states this "
    "natively (ASOF LEFT JOIN — the oracle); Spark lacks the operator, "
    "so operators/joins.asof_join builds it as a tagged union + one "
    "per-key running last() — ONE shuffle, |left| output rows, never "
    "the per-key cross product of the naive r.ts <= l.ts join.",
    tags=("join", "asof", "window"),
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.joins import asof_join

    events = load(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .withColumn("view_ts", F.col("ts"))
    )
    joined = asof_join(
        p, v, key="user_id", left_ts="ts", right_ts="ts",
        payload=["view_id", "view_ts"], how="left",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "asof_view_id",
        F.date_format("asof_view_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "asof_view_ts"
        ),
    )


@register(
    "revenue_pivot",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(CASE WHEN strftime(o.o_orderdate, '%Y') = '1995'
                 THEN CAST(o.o_totalprice AS DECIMAL(28,4)) END), 2)::DOUBLE AS y1995,
           round(sum(CASE WHEN strftime(o.o_orderdate, '%Y') = '1996'
                 THEN CAST(o.o_totalprice AS DECIMAL(28,4)) END), 2)::DOUBLE AS y1996,
           round(sum(CASE WHEN strftime(o.o_orderdate, '%Y') = '1997'
                 THEN CAST(o.o_totalprice AS DECIMAL(28,4)) END), 2)::DOUBLE AS y1997
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="A8 extension: PIVOT (long->wide reshaping) with an EXPLICIT "
    "value list — pivot('year', [values]) skips the extra distinct-"
    "values discovery job Spark otherwise runs, which at 100 TB is a "
    "full scan; always enumerate pivot columns at scale.",
    tags=("olap", "pivot", "agg"),
)
def revenue_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    n = load(spark, sf_dir, "nation").alias("n")
    joined = o.join(
        F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey")
    ).join(F.broadcast(n), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
    pivoted = (
        joined.withColumn("yr", F.date_format("o.o_orderdate", "yyyy"))
        .groupBy(F.col("n.n_name").alias("nation"))
        .pivot("yr", ["1995", "1996", "1997"])
        .agg(dec_sum("o.o_totalprice"))
    )
    return pivoted.select(
        "nation",
        F.col("1995").alias("y1995"),
        F.col("1996").alias("y1996"),
        F.col("1997").alias("y1997"),
    )


@register(
    "price_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(q[1], 4) AS p50,
           round(q[2], 4) AS p90,
           round(q[3], 4) AS p99,
           n
    FROM (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, [0.5, 0.9, 0.99]) AS q,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag)
    """,
    doc="Exact linear-interpolation quantiles per group (Spark "
    "percentile == DuckDB quantile_cont semantics): the distribution "
    "profile of a measure column. Exact percentile sorts per group — "
    "at 100 TB swap to approx_percentile (t-digest sketch, partial-"
    "aggregatable, bounded rank error) whose accuracy contract is "
    "property-tested in tests/test_functions.py::"
    "test_sketch_accuracy_vs_exact; the exact form stays as the "
    "oracle-checkable baseline.",
    tags=("agg", "quantile", "olap"),
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    q = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        l.groupBy("l_returnflag")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            F.round(F.element_at("q", 1), 4).alias("p50"),
            F.round(F.element_at("q", 2), 4).alias("p90"),
            F.round(F.element_at("q", 3), 4).alias("p99"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H classic shapes (A8 extension): multi-dim join aggs the serving
# layer runs daily — each a distinct plan family worth pinning
# ---------------------------------------------------------------------------


@register(
    "volume_shipping",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           strftime(l.l_shipdate, '%Y') AS yr,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(28,4))), 2)::DOUBLE AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name <> nc.n_name
      AND l.l_shipdate >= DATE '1995-01-01'
      AND l.l_shipdate <  DATE '1997-01-01'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (volume shipping): cross-nation trade revenue "
    "by (supplier nation, customer nation, year). Plan: the lineitem "
    "scan keeps the pushed-down shipdate range; supplier/customer/"
    "nation are broadcast so the fact shuffles ONCE for the orders "
    "equi-join, then partial-aggregates before the group exchange.",
    tags=("join", "olap", "tpch"),
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").alias("l").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    s = load(spark, sf_dir, "supplier").alias("s")
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    ns = load(spark, sf_dir, "nation").alias("ns")
    nc = load(spark, sf_dir, "nation").alias("nc")
    j = (
        l.join(F.broadcast(s), F.col("l.l_suppkey") == F.col("s.s_suppkey"))
        .join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(F.broadcast(ns), F.col("s.s_nationkey") == F.col("ns.n_nationkey"))
        .join(F.broadcast(nc), F.col("c.c_nationkey") == F.col("nc.n_nationkey"))
        .filter(F.col("ns.n_name") != F.col("nc.n_name"))
    )
    return (
        j.groupBy(
            F.col("ns.n_name").alias("supp_nation"),
            F.col("nc.n_name").alias("cust_nation"),
            F.date_format("l.l_shipdate", "yyyy").alias("yr"),
        )
        .agg(
            dec_sum(
                F.col("l.l_extendedprice") * (1 - F.col("l.l_discount"))
            ).alias("revenue")
        )
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT strftime(l.l_shipdate, '%Y') AS yr,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_ct,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_ct
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape (late shipments by priority class; the "
    "testdata has no shipmode/commitdate, so lateness = shipped >60d "
    "after order): conditional-measure pivot inside one agg over the "
    "order join, residual date predicate on the join output.",
    tags=("join", "olap", "tpch"),
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").alias("l")
    o = load(spark, sf_dir, "orders").alias("o")
    j = l.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey")).filter(
        F.col("l.l_shipdate")
        > F.col("o.o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o.o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(
        F.date_format("l.l_shipdate", "yyyy").alias("yr")
    ).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_ct"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_ct"),
    )


@register(
    "promo_revenue_pct",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(28,4))
                   ELSE CAST(0 AS DECIMAL(28,4)) END)
             / sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(28,4))), 6)::DOUBLE AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc="TPC-H Q14 shape (promotion revenue share): conditional / total "
    "ratio in one pass, both sums exact-decimal so the single-row "
    "ratio is cross-engine deterministic; part joins broadcast.",
    tags=("join", "olap", "tpch"),
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").alias("l")
    p = load(spark, sf_dir, "part").alias("p")
    j = l.join(F.broadcast(p), F.col("l.l_partkey") == F.col("p.p_partkey"))
    rev = (F.col("l.l_extendedprice") * (1 - F.col("l.l_discount"))).cast(
        "decimal(28,4)"
    )
    zero = F.lit(0).cast("decimal(28,4)")
    promo = F.when(F.col("p.p_type") == "PROMO", rev).otherwise(zero)
    return j.agg(
        F.round(
            F.lit(100.0) * F.sum(promo) / F.sum(rev), 6
        ).cast("double").alias("promo_pct")
    )


@register(
    "large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           round(o.o_totalprice, 2) AS total_price,
           q.sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity)::BIGINT AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) q
    JOIN orders o ON q.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="TPC-H Q18 shape (large-volume orders): HAVING-filtered "
    "aggregate joined back to the dims — the aggregate runs FIRST so "
    "only qualifying order keys (|large| << |orders|) reach the "
    "joins; customer broadcasts.",
    tags=("join", "agg", "tpch"),
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").alias("o")
    c = load(spark, sf_dir, "customer").alias("c")
    q = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey", F.col("qty").cast("bigint").alias("sum_qty"))
    )
    return (
        q.join(o, q["l_orderkey"] == F.col("o.o_orderkey"))
        .join(F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .select(
            "c.c_name",
            "o.o_orderkey",
            F.date_format("o.o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o.o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
    )


@register(
    "segment_running_total",
    oracle="""
    SELECT c_mktsegment, month,
           round(month_rev, 2) AS month_rev,
           round(cum_rev, 2)::DOUBLE AS cum_rev
    FROM (
      SELECT c_mktsegment, month, month_rev,
             sum(CAST(month_rev AS DECIMAL(28,2)))
               OVER (PARTITION BY c_mktsegment ORDER BY month
                     ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM (
        SELECT c.c_mktsegment,
               strftime(o.o_orderdate, '%Y-%m') AS month,
               round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
                 AS month_rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        -- undated orders excluded: a NULL month otherwise enters the
        -- running total at engine-specific positions (Spark windows
        -- sort NULLS FIRST ascending, DuckDB NULLS LAST), skewing
        -- every cumulative value after it
        WHERE o.o_orderdate IS NOT NULL
        GROUP BY 1, 2))
    """,
    doc="Cumulative (running-total) window family: monthly revenue per "
    "market segment with a per-segment running sum. The cumulative sum "
    "runs over the ALREADY-AGGREGATED month frame (|segments|x|months| "
    "rows), never raw orders; the accumulator is DECIMAL so the "
    "running values are order-exact in both engines.",
    tags=("window", "olap"),
)
def segment_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = (
        load(spark, sf_dir, "orders")
        # undated orders excluded from the time series (see oracle note)
        .filter(F.col("o_orderdate").isNotNull())
        .alias("o")
    )
    c = load(spark, sf_dir, "customer").alias("c")
    monthly = (
        o.join(F.broadcast(c), F.col("o.o_custkey") == F.col("c.c_custkey"))
        .groupBy(
            "c.c_mktsegment",
            F.date_format("o.o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(dec_sum("o.o_totalprice").alias("month_rev"))
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "c_mktsegment",
        "month",
        F.round("month_rev", 2).alias("month_rev"),
        F.round(F.sum(F.col("month_rev").cast("decimal(28,2)")).over(w), 2)
        .cast("double")
        .alias("cum_rev"),
    )


@register(
    "revenue_grouping_sets",
    oracle="""
    SELECT strftime(o.o_orderdate, '%Y') AS yr,
           n.n_name AS nation,
           GROUPING(strftime(o.o_orderdate, '%Y'))::INT * 2
             + GROUPING(n.n_name)::INT AS gid,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((strftime(o.o_orderdate, '%Y'), n.n_name),
                            (strftime(o.o_orderdate, '%Y')), (n.n_name), ())
    -- no-op on non-empty input; pins Spark's zero-rows-from-empty
    -- grouping-sets semantics (see revenue_rollup oracle note)
    HAVING count(*) > 0
    """,
    doc="Explicit GROUPING SETS with the grouping-id bit vector "
    "(completes the grouping family next to rollup/cube): four "
    "aggregation grains in ONE pass — Spark expands the sets in a "
    "single Expand+Aggregate, scanning the join output once instead "
    "of four times.",
    tags=("olap", "groupingsets", "agg"),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return spark.sql(
        """
        SELECT date_format(o_orderdate, 'yyyy') AS yr,
               n_name AS nation,
               CAST(grouping(date_format(o_orderdate, 'yyyy')) AS INT) * 2
                 + CAST(grouping(n_name) AS INT) AS gid,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,4))), 2)
                    AS DOUBLE) AS revenue
        FROM {rev_src}
        GROUP BY GROUPING SETS ((date_format(o_orderdate, 'yyyy'), n_name),
                                (date_format(o_orderdate, 'yyyy')),
                                (n_name), ())
        """,
        rev_src=j,
    )


@register(
    "user_dim_scd2",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') AS valid_to,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
           event_id AS version_event
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD2 dimension history from a CDC-style change stream: each "
    "per-key change opens a version valid until the next change "
    "(lead() over the key), open-ended sentinel for the current row — "
    "the slowly-changing-dimension build every warehouse needs and "
    "the reference's Phoenix dims overwrite away. One shuffle on the "
    "key; versioning is a lag/lead family window, no self-join.",
    tags=("window", "scd2", "cdc"),
)
def user_dim_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        F.col("event_id").alias("version_event"),
    )


@register(
    "session_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
             min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
      FROM events GROUP BY user_id)
    SELECT
      count(*) AS n_users,
      sum(CASE WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS viewed,
      sum(CASE WHEN v_ts IS NOT NULL AND c_ts > v_ts
               THEN 1 ELSE 0 END)::BIGINT AS clicked_after_view,
      sum(CASE WHEN v_ts IS NOT NULL AND c_ts > v_ts AND p_ts > c_ts
               THEN 1 ELSE 0 END)::BIGINT AS purchased_after_click
    FROM stages
    """,
    doc="Funnel conversion (view -> click -> purchase, strictly "
    "ordered first-touch): per-user stage timestamps via conditional "
    "min — ONE pass over events, one shuffle on user_id, the ordered-"
    "sequence predicate evaluated on the aggregated row (never a "
    "3-way self-join of the event stream).",
    tags=("agg", "funnel", "cep"),
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p_ts"),
    )
    viewed = F.col("v_ts").isNotNull()
    clicked = viewed & (F.col("c_ts") > F.col("v_ts"))
    purchased = clicked & (F.col("p_ts") > F.col("c_ts"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("clicked_after_view"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias(
            "purchased_after_click"
        ),
    )


@register(
    "price_tier_stats",
    oracle="""
    WITH tiers AS (
      SELECT i AS tier_id, i * 2500.0 AS lo, (i + 1) * 2500.0 AS hi
      FROM generate_series(0, 47) AS g(i))
    SELECT t.tier_id, t.lo, t.hi,
           count(*) AS n_items,
           round(sum(CAST(l.l_extendedprice AS DECIMAL(28,4))), 2)::DOUBLE
             AS revenue
    FROM lineitem l JOIN tiers t
      ON l.l_extendedprice >= t.lo AND l.l_extendedprice < t.hi
    GROUP BY 1, 2, 3
    """,
    doc="Range join as a bin equi-join (operators/joins.range_bin_join): "
    "price-tier histogram where each lineitem lands in its [lo, hi) "
    "tier. A raw inequality join plans BroadcastNestedLoop — "
    "O(|facts| x |tiers|); binning on floor(value/width) makes it a "
    "hash equi-join with the inequality as residual. Plan-pinned "
    "nested-loop-free in tests/test_plans.py.",
    tags=("join", "range", "agg"),
)
def price_tier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.joins import range_bin_join

    l = load(spark, sf_dir, "lineitem")
    tiers = spark.range(0, 48).select(
        F.col("id").cast("int").alias("tier_id"),
        (F.col("id") * 2500.0).alias("lo"),
        ((F.col("id") + 1) * 2500.0).alias("hi"),
    )
    j = range_bin_join(
        l, tiers, value_col="l_extendedprice", lo_col="lo", hi_col="hi",
        bin_width=2500.0, closed="left",
    )
    return j.groupBy("tier_id", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_extendedprice").alias("revenue"),
    )


@register(
    "visitor_stats_4d",
    oracle="""
    WITH e AS (
      SELECT ts, value,
             CAST(event_id % 3 AS BIGINT) AS vc,
             event_type AS ch,
             CAST(user_id % 5 AS BIGINT) AS ar,
             CASE WHEN ts::DATE = min(ts::DATE) OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM events)
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           vc, ch, ar, is_new,
           count(*) AS pv_ct,
           round(sum(CAST(value AS DECIMAL(28,4))), 2)::DOUBLE AS dur_sum
    FROM e GROUP BY 1, 2, 3, 4, 5, 6
    """,
    doc="A1 at the reference's REAL key grain: VisitorStats keyed by "
    "the 4-dim (version, channel, area, is_new) tuple "
    "(RT/app/dws/VisitorStatsApp.java:156-167 keyBy) — the testdata "
    "has no vc/ch/ar columns, so they derive deterministically from "
    "event/user ids and is_new comes from the ST1 first-visit repair "
    "inline (min-date window per user). One shuffle for the repair "
    "window, one for the 4-dim keyed tumble.",
    tags=("window", "agg", "stateful"),
)
def visitor_stats_4d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from gmall_realtime_flink_spark.operators.windows import tumble_agg

    e = load(spark, sf_dir, "events")
    first = F.min(F.to_date("ts")).over(Window.partitionBy("user_id"))
    keyed = e.select(
        "ts",
        "value",
        (F.col("event_id") % 3).alias("vc"),
        F.col("event_type").alias("ch"),
        (F.col("user_id") % 5).alias("ar"),
        F.when(F.to_date("ts") == first, 1).otherwise(0).alias("is_new"),
    )
    return tumble_agg(
        keyed,
        ts_col="ts",
        duration="10 seconds",
        keys=["vc", "ch", "ar", "is_new"],
        aggs=[
            F.count(F.lit(1)).alias("pv_ct"),
            cents_sum("value").alias("dur_sum"),
        ],
    ).select("stt", "edt", "vc", "ch", "ar", "is_new", "pv_ct", "dur_sum")


@register(
    "page_flow",
    oracle="""
    SELECT from_type, to_type, count(*)::BIGINT AS trans_ct
    FROM (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events)
    WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Page-flow transition matrix: per-user lead() pairs each event "
    "with its successor, then counts (from, to) edges — the user-path "
    "analysis downstream of the reference's page log (the page_id → "
    "last_page_id chain BaseLogApp stitches, RT/app/dwd/BaseLogApp.java"
    ":115-128, aggregated into a flow graph). Plan: ONE shuffle on "
    "user_id for the lead window (deterministic (ts, event_id) order), "
    "then the edge agg partial-aggregates map-side; the matrix is "
    "|types|² tiny.",
    tags=("window", "agg", "funnel"),
)
def page_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return edges.groupBy("from_type", "to_type").agg(
        F.count("*").alias("trans_ct")
    )


@register(
    "dirty_split",
    oracle="""
    SELECT CASE WHEN event_id % 97 = 0 THEN 'dirty' ELSE 'clean' END AS route,
           count(*)::BIGINT AS ct,
           sum(CASE WHEN event_id % 97 <> 0
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
               END)::BIGINT AS k_sum
    FROM events
    GROUP BY 1
    """,
    doc="Dirty-data side output (RT/app/dwd/BaseLogAPP.java:141-162: "
    "unparseable log lines go to a dirty side-output topic): JSON "
    "envelopes are parsed PERMISSIVE with from_json — a malformed "
    "payload yields a NULL struct, which stamps the row 'dirty' "
    "instead of killing the job. The testdata's props are all valid, "
    "so a deterministic 1/97 slice is corrupted in-flight to make the "
    "split non-vacuous; the ORACLE classifies by the corruption rule "
    "while Spark classifies by the ACTUAL parse outcome, so the hash "
    "match proves from_json flags exactly the malformed rows. Plan: "
    "narrow per-row JVM expressions + one tiny 2-group agg; at scale "
    "the same route column feeds route_writer's per-sink fan-out.",
    tags=("routing", "etl"),
)
def dirty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_id") % 97 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    # PERMISSIVE mode surfaces malformed input in the corrupt-record
    # column (Spark 4 returns a null-FIELDED struct, never a null
    # struct, so `isNull` on the result cannot detect dirt)
    parsed = F.from_json(
        raw,
        "k BIGINT, _corrupt STRING",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    route = F.when(
        parsed.getField("_corrupt").isNotNull(), "dirty"
    ).otherwise("clean")
    return (
        e.select(
            route.alias("route"), parsed.getField("k").alias("k")
        )
        .groupBy("route")
        .agg(
            F.count("*").alias("ct"),
            F.sum("k").alias("k_sum"),
        )
    )


@register(
    "keyword_stats_udtf",
    oracle="""
    SELECT keyword, count(*) AS ct, 'SEARCH' AS source
    FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS keyword
      FROM documents
    )
    WHERE length(keyword) >= 2
    GROUP BY keyword
    """,
    doc="F2 via a REGISTERED Python UDTF in SQL — the literal API "
    "shape of the reference (`createTemporarySystemFunction('ik_analyze'"
    ", KeywordUDTF.class)` + `LATERAL TABLE(ik_analyze(fullword))`, "
    "RT/app/dws/KeywordStatsApp.java:62-88): `spark.udtf.register` + "
    "`LATERAL ik_analyze(text)`. Semantically identical to the JVM "
    "explode form (`keyword_stats`, same oracle) — that one is the "
    "hot path; this entry pins the UDTF surface itself. Python "
    "executes per-row here by design: the imperative-tokenizer "
    "escape hatch, not the default.",
    tags=("udtf", "sql", "explode"),
)
def keyword_stats_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.functions.udtf import register_keyword_udtf

    register_keyword_udtf(spark)
    # REPARTITION hint inside the subquery block (guide §2.5): the
    # docs table is one unsplittable split at bench SFs, so the
    # per-row Python UDTF otherwise runs in a single task. The hint
    # lands at the top of the INNER block — i.e. below the LATERAL —
    # and the target is the core count, not a constant.
    par = spark.sparkContext.defaultParallelism
    return spark.sql(
        f"""
        SELECT t.keyword, count(*) AS ct, 'SEARCH' AS source
        FROM (SELECT /*+ REPARTITION({par}) */ text FROM {{documents}}) d,
             LATERAL ik_analyze(d.text) AS t
        GROUP BY t.keyword
        """,
        documents=load(spark, sf_dir, "documents"),
    )


@register(
    "integrity_checks",
    oracle="""
    SELECT 'orphan_lineitems' AS check_name,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
             AS violation_ct
    UNION ALL
    SELECT 'orphan_orders',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
    UNION ALL
    SELECT 'negative_price',
           (SELECT count(*) FROM lineitem
            WHERE l_extendedprice < 0 OR l_quantity <= 0)::BIGINT
    UNION ALL
    SELECT 'discount_range',
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)::BIGINT
    UNION ALL
    SELECT 'dup_event_ids',
           (SELECT count(*) FROM
             (SELECT event_id FROM events
              GROUP BY 1 HAVING count(*) > 1))::BIGINT
    """,
    doc="Referential / domain integrity suite (dbt-test-style): orphan "
    "facts via LEFT ANTI joins, domain-range violations via pushed "
    "predicates, duplicate-key detection via a having-count — one row "
    "per check with its violation count (all 0 on the generator's "
    "testdata; the SHAPE is the product: each check is the plan you "
    "run at 100 TB, anti-joins shuffling on the key with partial "
    "counts). Expected-zero rows are still hash-gated, so a check "
    "that silently breaks fails the driver.",
    tags=("etl", "quality"),
)
def integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events")

    orphan_l = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("violation_ct"))
        .select(F.lit("orphan_lineitems").alias("check_name"), "violation_ct")
    )
    orphan_o = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("violation_ct"))
        .select(F.lit("orphan_orders").alias("check_name"), "violation_ct")
    )
    neg_price = (
        l.filter((F.col("l_extendedprice") < 0) | (F.col("l_quantity") <= 0))
        .agg(F.count("*").alias("violation_ct"))
        .select(F.lit("negative_price").alias("check_name"), "violation_ct")
    )
    disc_range = (
        l.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .agg(F.count("*").alias("violation_ct"))
        .select(F.lit("discount_range").alias("check_name"), "violation_ct")
    )
    dup_events = (
        e.groupBy("event_id")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") > 1)
        .agg(F.count("*").alias("violation_ct"))
        .select(F.lit("dup_event_ids").alias("check_name"), "violation_ct")
    )
    return (
        orphan_l.unionByName(orphan_o)
        .unionByName(neg_price)
        .unionByName(disc_range)
        .unionByName(dup_events)
    )


@register(
    "order_customer_salted",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment,
           round(o.o_totalprice, 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Skew-mitigating salted equi-join surfaced through the "
    "correctness gate: orders (big, potentially hot-keyed) joined to "
    "customer over (key, shard) with the small side replicated "
    "salt x 8 (operators/joins.salted_join). The oracle is the PLAIN "
    "join — salting must be result-invariant, which is the entire "
    "contract (deterministic content-hash shard, never rand(), so a "
    "retried task re-salts identically). The skew path AQE's "
    "size-threshold splitting can miss: one flash-sale key inside an "
    "otherwise balanced partition.",
    tags=("join", "skew", "salted"),
)
def order_customer_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.joins import salted_join

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return salted_join(o, c, "o_custkey", "c_custkey", salt=8).select(
        "o_orderkey",
        "c_custkey",
        "c_mktsegment",
        F.round("o_totalprice", 2).alias("total_price"),
    )


@register(
    "user_sessions_native",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('millisecond', lag(ts) OVER w, ts) > 600000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
      FROM marked)
    SELECT user_id, session_no,
           count(*) AS event_ct,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sess
    GROUP BY user_id, session_no
    """,
    doc="Per-user session ORDINALS via Spark's native session_window "
    "operator (`user_sessions` shares the operator but emits stt/edt "
    "window bounds; this entry numbers each user's sessions and spans "
    "first-to-last event). Oracle: gap-islands SQL with break on gap "
    "STRICTLY greater than the duration (session_window merges an "
    "event landing exactly at the previous window's end — verified "
    "empirically, same convention as user_sessions) and a full "
    "(ts, event_id) ordering so same-timestamp boundary events group "
    "deterministically. Plan: one shuffle on user_id; session merging "
    "is the window operator's own state, exactly what it does under "
    "a stream with a watermark.",
    tags=("window", "session", "agg"),
)
def user_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    sess = events.groupBy(
        "user_id", F.session_window("ts", "10 minutes").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("event_ct"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("sw.start"))
    return sess.withColumn(
        "session_no", F.row_number().over(w).cast("bigint")
    ).select(
        "user_id", "session_no", "event_ct", "session_start", "session_end"
    )


@register(
    "key_skew_report",
    oracle="""
    WITH k AS (
      SELECT o_custkey AS key, count(*) AS cnt
      FROM orders GROUP BY o_custkey),
    t AS (SELECT sum(cnt) AS total, avg(cnt) AS avg_cnt FROM k)
    SELECT k.key, k.cnt,
           round(k.cnt / t.total, 6) AS share,
           round(k.cnt / t.avg_cnt, 6) AS x_avg
    FROM k, t
    ORDER BY k.cnt DESC, k.key
    LIMIT 10
    """,
    doc="Join-key skew audit — the operational pre-check for choosing "
    "a skew mitigation (AQE skew-join vs salted_join vs broadcast): "
    "top-10 heaviest orders.o_custkey values with their absolute "
    "count, share of table, and multiple-of-average. Plan: one "
    "partial-aggregated shuffle on the key (|keys| rows), the totals "
    "as a broadcast single-row cross join (the scalar-subquery shape "
    "that reuses the aggregated exchange), TakeOrderedAndProject for "
    "the top-10 — at 100 TB this is the cheap thing you run BEFORE "
    "the expensive join.",
    tags=("olap", "skew", "diagnostics"),
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = k.agg(
        F.sum("cnt").alias("total"), F.avg("cnt").alias("avg_cnt")
    )
    return (
        k.crossJoin(F.broadcast(t))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("avg_cnt"), 6).alias("x_avg"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(10)
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH weeks AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week
      FROM events),
    firsts AS (
      SELECT user_id, min(week) AS cohort FROM weeks GROUP BY user_id)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           (date_diff('day', f.cohort, w.week) // 7)::INT AS week_offset,
           count(DISTINCT w.user_id)::BIGINT AS active_users
    FROM weeks w JOIN firsts f ON w.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users grouped by first-active week, "
    "counted in each subsequent week they return — the standard "
    "retention triangle. Plan: one (user, week) distinct (partial-agg "
    "shuffle), a per-user min for the cohort, a broadcast-or-shuffled "
    "self-join at |user| grain (never event grain), then a small "
    "(cohort, offset) agg. Monday-start date_trunc('week') agrees "
    "between engines.",
    tags=("olap", "agg", "retention"),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    weeks = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    firsts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        weeks.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "daily_gmv_moving_7d",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             sum(CAST(o_totalprice AS DECIMAL(28,4))) AS gmv
      -- undated orders cannot sit on a time axis; engines also
      -- genuinely disagree on NULL keys inside RANGE frames (DuckDB
      -- folds the NULL-day group into every frame, Spark excludes
      -- it) — exclude explicitly on BOTH sides
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           round(gmv, 2)::DOUBLE AS gmv,
           round(sum(gmv) OVER (ORDER BY day
                                RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                                AND CURRENT ROW), 2)::DOUBLE AS gmv_7d
    FROM daily
    """,
    doc="Trailing-7-day GMV: a RANGE (event-time interval) window "
    "frame over the daily pre-aggregate — the frame type ROWS can't "
    "express when days are missing (a gap must still look back 6 "
    "CALENDAR days, not 6 rows). Decimal-exact sums inside the frame. "
    "Plan: the fact scan collapses to |days| rows BEFORE the window, "
    "so the unpartitioned interval frame sorts ~thousands of rows at "
    "any fact scale — the pre-aggregate is what makes a global "
    "time-series window safe at 100 TB.",
    tags=("olap", "window", "timeseries"),
)
def daily_gmv_moving_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # undated orders are excluded from the time series (see oracle note)
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("gmv"))
    w = (
        Window.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("gmv", 2).cast("double").alias("gmv"),
        F.round(F.sum("gmv").over(w), 2).cast("double").alias("gmv_7d"),
    )


@register(
    "purchase_dim_temporal_join",
    oracle="""
    WITH scd AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             event_id AS version_event
      FROM events WHERE event_type = 'signup')
    SELECT e.event_id, e.user_id,
           s.version_event,
           strftime(s.valid_from, '%Y-%m-%d %H:%M:%S') AS version_from
    FROM events e JOIN scd s
      ON e.user_id = s.user_id
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    WHERE e.event_type = 'purchase'
    """,
    doc="Point-in-time (temporal table) join — Flink's "
    "`FOR SYSTEM_TIME AS OF` semantic, which the reference's "
    "cache-aside dim lookups approximate with freshness windows: each "
    "purchase joins the SCD2 dim VERSION that was valid at the "
    "purchase's event time, so late reprocessing yields the same "
    "enrichment as live processing did (the batch-repro guarantee "
    "type-1 dims destroy). Plan: equi join on the entity key with the "
    "validity band as a residual predicate — hash join, never a range "
    "cross-product; the dim side is |versions|, broadcastable.",
    tags=("join", "scd2", "temporal"),
)
def purchase_dim_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    signup = e.filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = signup.select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("event_id").alias("version_event"),
    )
    p = e.filter(F.col("event_type") == "purchase")
    return (
        p.join(
            F.broadcast(scd),
            (p["user_id"] == scd["s_user"])
            & (p["ts"] >= scd["valid_from"])
            & (scd["valid_to"].isNull() | (p["ts"] < scd["valid_to"])),
        )
        .select(
            "event_id",
            "user_id",
            "version_event",
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
                "version_from"
            ),
        )
    )


@register(
    "repeat_buyer_intersect",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_orderdate < '2001-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= '2001-01-01'
    """,
    doc="Set-operation surface (SURVEY §2.6 beyond unionByName): "
    "customers who ordered in BOTH halves of the order history, as a "
    "real INTERSECT (DISTINCT semantics) in both engines. Catalyst "
    "plans INTERSECT as a left-semi join over distincts — one shuffle "
    "per side at |customers| grain after pushdown prunes each scan to "
    "its date half.",
    tags=("setop", "olap"),
)
def repeat_buyer_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cut = F.lit("2001-01-01").cast("timestamp")
    early = o.filter(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("c_custkey")
    )
    late = o.filter(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return early.intersect(late)


@register(
    "churned_buyers_except",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_orderdate < '2001-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= '2001-01-01'
    """,
    doc="EXCEPT set op (completes SURVEY §2.6 with INTERSECT/"
    "repeat_buyer_intersect): customers active early but silent since "
    "the cutoff — churn candidates. Catalyst plans EXCEPT as a "
    "left-anti join over distincts; each scan is pruned to its date "
    "half by pushdown.",
    tags=("setop", "olap"),
)
def churned_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cut = F.lit("2001-01-01").cast("timestamp")
    early = o.filter(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("c_custkey")
    )
    late = o.filter(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract = set EXCEPT (distinct + anti); exceptAll's bag
    # semantics would keep a customer whose early orders merely
    # outnumber their late ones
    return early.subtract(late)
