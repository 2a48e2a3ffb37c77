"""Streaming queries registered in the driver contract.

Each runs the Structured Streaming form of a stateful operator
(ST1/ST2/ST3) to completion over the bounded event stream and returns
the collected result — so the DuckDB oracle checks *streaming* output,
not just the batch analogue. The oracles are the same window-function
formulations as the batch forms (operators/stateful.py), which is the
point: streaming == batch on bounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_realtime_flink_spark.plans.registry import REGISTRY, register
from gmall_realtime_flink_spark.streaming import jobs


@register(
    "streaming_visitor_repair",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d') AS visit_date,
           CASE WHEN ts::DATE = min(ts::DATE) OVER (PARTITION BY user_id)
                THEN 1 ELSE 0 END AS is_new
    FROM events
    """,
    doc="ST1 streaming: applyInPandasWithState keyed on user_id with "
    "first-visit-date ValueState (RT/app/dwd/BaseLogAPP.java:74-130), run "
    "bounded; oracle = the batch window-function form.",
    tags=("streaming", "stateful"),
)
def streaming_visitor_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_visitor_repair(spark, sf_dir)


@register(
    "streaming_unique_visit",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d') AS visit_date,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """,
    doc="ST2 streaming: watermarked 1-day window keeping min(ts, event_id) "
    "per user (RT/app/dwm/UniqueVisitApp.java:66-124), run bounded with a "
    "sentinel that closes the last day; emits the first event per "
    "(user, day).",
    tags=("streaming", "stateful", "dedup"),
)
def streaming_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_unique_visit(spark, sf_dir)


@register(
    "streaming_user_jump",
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
    doc="ST3 streaming: CEP bounce detection as a session window per user "
    "keeping each session's last event — the events with no follow-up "
    "within the gap, emitted once the watermark passes ts + gap "
    "(RT/app/dwm/UserJumpApp.java:88-158), run bounded with a sentinel "
    "watermark-advancer; oracle = the lead() batch form.",
    tags=("streaming", "stateful", "cep"),
)
def streaming_user_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_user_jump(spark, sf_dir)


@register(
    "streaming_view_click_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 2 DAYS
    """,
    doc="ST4+J1 streaming: stream-stream inner interval join with "
    "watermark-bounded state (RT/app/dwm/OrderWideApp.java:140-152 — "
    "the keyed interval-join buffering is Spark's stream-stream join "
    "state, evicted by watermark + band width).",
    tags=("streaming", "join", "interval"),
)
def streaming_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_view_click_join(spark, sf_dir)


@register(
    "streaming_order_wide",
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
    doc="J1+ST4 on the warehouse tables: the OrderWideApp interval join "
    "(RT/app/dwm/OrderWideApp.java:140-152) as a stream-stream join "
    "over two file streams with watermark-bounded state; oracle = the "
    "batch order_wide formulation.",
    tags=("streaming", "join", "interval"),
)
def streaming_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_order_wide(spark, sf_dir)


@register(
    "streaming_cdc_route",
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
               ELSE 'delete' END AS op
      FROM events
      WHERE props IS NOT NULL AND length(props) >= 3),
    n AS (
      SELECT event_id, event_type,
             CASE WHEN op = 'bootstrap-insert' THEN 'insert' ELSE op END AS op
      FROM src)
    SELECT n.event_id, n.event_type, n.op AS cdc_type, c.sink_table
    FROM n JOIN cfg c
      ON n.event_type = c.source_table AND n.op = c.operate_type
    WHERE c.sink_table LIKE 'dwd%'
    """,
    doc="The BaseDBApp DWD topology end-to-end under streaming "
    "(S8+R2+P6 routing AND the S3/R1 partitioned multi-sink in the "
    "loop): the oracle checks the fact layer read back from the "
    "route_writer's one-pass partitioned write, so sink fan-out and "
    "roundtrip fidelity are driver-gated, not just the routing "
    "expression. Dim-side upserts are pinned by "
    "tests/test_streaming.py::test_basedb_streaming_dag_route_sinks_agg.",
    tags=("streaming", "routing", "sink"),
)
def streaming_cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_cdc_route(spark, sf_dir)


@register(
    "streaming_payment_wide",
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
    doc="J2+ST4 streaming: the PaymentWideApp asymmetric-band interval "
    "join (RT/app/dwm/PaymentWideApp.java:116-131) as a stream-stream "
    "join with a NEGATIVE lower bound — the right side buffers events "
    "preceding their match; oracle = the batch payment_wide SQL.",
    tags=("streaming", "join", "interval"),
)
def streaming_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_payment_wide(spark, sf_dir)


@register(
    "streaming_product_stats",
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
    doc="U1 under Structured Streaming: the full ProductStatsApp union "
    "pipeline (skeleton branches -> unionByName -> keyed 10 s tumble) "
    "run as a watermarked stream; oracle = the batch formulation. "
    "Checks the whole DWS streaming path end-to-end.",
    tags=("streaming", "union", "window", "agg"),
)
def streaming_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_product_stats(spark, sf_dir)


@register(
    "streaming_product_stats_enriched",
    oracle="""
    WITH src AS (
      SELECT ts,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS sku_id,
             event_type, value
      FROM events
    ),
    u AS (
      SELECT ts, sku_id, 1 AS click_ct, 0 AS order_ct, 0.0 AS amount
      FROM src WHERE event_type = 'click'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0.0 FROM src WHERE event_type = 'view'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0.0 FROM src WHERE event_type = 'signup'
      UNION ALL
      SELECT ts, sku_id, 0, 1, value FROM src WHERE event_type = 'purchase'
      UNION ALL
      SELECT ts, sku_id, 0, 0, 0.0 FROM src WHERE event_type = 'error'
    ),
    agg AS (
      SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
             strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                      '%Y-%m-%d %H:%M:%S') AS edt,
             sku_id,
             sum(click_ct)::BIGINT AS click_ct,
             sum(order_ct)::BIGINT AS order_ct,
             round(sum(CAST(amount AS DECIMAL(28,4))), 2)::DOUBLE AS order_amount
      FROM u GROUP BY 1, 2, 3)
    SELECT agg.stt, agg.edt, agg.sku_id, s.s_name AS sku_name,
           agg.click_ct, agg.order_ct, agg.order_amount
    FROM agg LEFT JOIN supplier s ON agg.sku_id = s.s_suppkey
    """,
    doc="J4 under streaming: broadcast dim join AFTER the streaming "
    "window agg (stream-static join downstream of the stateful "
    "operator, RT/app/dws/ProductStatsApp.java:318-397) — |groups| "
    "rows hit the join, not |events|.",
    tags=("streaming", "join", "broadcast", "agg"),
)
def streaming_product_stats_enriched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return jobs.streaming_product_stats_enriched(spark, sf_dir)


@register(
    "streaming_visitor_stats",
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
    doc="A1/A2/A3 under Structured Streaming: keyed tumble with "
    "streaming-safe exact distinct (size(collect_set) — countDistinct "
    "is unsupported on streaming aggs, SURVEY §7.3); oracle = the "
    "batch visitor_stats formulation with exact COUNT(DISTINCT).",
    tags=("streaming", "window", "agg", "distinct"),
)
def streaming_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_visitor_stats(spark, sf_dir)


@register(
    "streaming_stats_sql",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 10 SECONDS, ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(time_bucket(INTERVAL 10 SECONDS, ts) + INTERVAL 10 SECONDS,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           count(*) AS pv_ct,
           count(DISTINCT user_id) AS uv_ct,
           round(sum(CAST(value AS DECIMAL(28,4))), 2)::DOUBLE AS amount
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="The Flink-SQL-app shape under Structured Streaming (S4+A4/A5, "
    "W5): watermarked stream -> temp view -> spark.sql TUMBLE with "
    "collect_set distinct; oracle = batch SQL with exact "
    "COUNT(DISTINCT).",
    tags=("streaming", "sql", "window", "distinct"),
)
def streaming_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_stats_sql(spark, sf_dir)


@register(
    "streaming_visitor_stats_sliding",
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
    doc="Hopping (sliding) windows under Structured Streaming: "
    "window(ts, 30s, 10s) + watermark, every event in 3 overlapping "
    "windows; oracle = the batch visitor_stats_sliding expansion with "
    "exact COUNT(DISTINCT). Note: sentinel rows appear in 3 far-future "
    "windows, all dropped by the stt cutoff.",
    tags=("streaming", "window", "sliding"),
)
def streaming_visitor_stats_sliding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return jobs.streaming_visitor_stats_sliding(spark, sf_dir)


@register(
    "streaming_keyword_stats",
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
      WHERE e.event_type = 'view')
    WHERE length(keyword) >= 2
    GROUP BY 1, 2, 3
    """,
    doc="KeywordStatsApp under streaming: stream-static broadcast join "
    "to the search text, tokenizer explode inside the micro-batch "
    "plan, 10 s tumble count (RT/app/dws/KeywordStatsApp.java:56-88); "
    "oracle = the batch keyword_stats_sql formulation.",
    tags=("streaming", "udtf", "explode", "window"),
)
def streaming_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_keyword_stats(spark, sf_dir)


@register(
    "streaming_user_sessions",
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
    doc="Session windows under Structured Streaming (session_window + "
    "watermark): dynamic-gap sessionization with state bounded to "
    "open sessions; equals the batch user_sessions gaps-and-islands "
    "oracle on bounded input.",
    tags=("streaming", "window", "session"),
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_user_sessions(spark, sf_dir)


@register(
    "streaming_uv_dropdup",
    oracle="""
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS visit_date
    FROM events
    """,
    doc="ST2 via built-in streaming dropDuplicates (the idiomatic "
    "alternative to the exact-TTL stateful UDF); emits the distinct "
    "(user, day) key set.",
    tags=("streaming", "dedup"),
)
def streaming_uv_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_uv_dropdup(spark, sf_dir)


@register(
    "streaming_uv_dropdup_wm",
    oracle="""
    SELECT DISTINCT user_id FROM events
    """,
    doc="ST2 via dropDuplicatesWithinWatermark: built-in streaming "
    "dedup with watermark-bounded state for keys that don't embed "
    "event time — the production-safe form of streaming_uv_dropdup "
    "(streaming/jobs.py streaming_uv_dropdup_wm).",
    tags=("streaming", "stateful", "dedup"),
)
def streaming_uv_dropdup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_uv_dropdup_wm(spark, sf_dir)


@register(
    "streaming_order_wide_left",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_partkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date,
           round(o.o_totalprice, 2) AS total_amount,
           round(l.l_extendedprice, 2) AS split_amount
    FROM orders o LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAYS
    -- a stream-stream join row without event time has no watermark
    -- position: Spark never emits it (state/eviction are keyed on
    -- o_ts), Flink would NPE on a null rowtime. Batch LEFT JOIN would
    -- emit it null-padded — exclude to pin the STREAMING semantics.
    WHERE o.o_orderdate IS NOT NULL
    """,
    doc="J1 as a stream-stream LEFT OUTER interval join (beyond the "
    "reference: Flink intervalJoin is inner-only) — unmatched orders "
    "emit null-padded when the watermark passes their band "
    "(streaming/jobs.py streaming_order_wide_left).",
    tags=("streaming", "join", "interval"),
)
def streaming_order_wide_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_order_wide_left(spark, sf_dir)


@register(
    "streaming_purchase_dim_temporal",
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
    doc="Point-in-time SCD2 enrichment on a stream: native "
    "stream-static join with the validity band as a residual "
    "predicate — every micro-batch enriches with the version valid at "
    "the EVENT time, so replay produces the same result as live "
    "processing (streaming/jobs.py streaming_purchase_dim_temporal; "
    "oracle = batch purchase_dim_temporal_join).",
    tags=("streaming", "join", "scd2", "temporal"),
)
def streaming_purchase_dim_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.streaming_purchase_dim_temporal(spark, sf_dir)


# ---------------------------------------------------------------------------
# The full chained warehouse topology (SURVEY §3.1): ODS -> DWD split ->
# DWM stateful/joins -> DWS windowed stats, every inter-job boundary a
# durable staged layer the next job readStreams from (the Kafka-topic
# handoff, e.g. RT/app/dwm/UniqueVisitApp.java:56-58 consuming
# BaseLogAPP's dwd_page_log). One topology run feeds all four DWS
# entries (streaming/topology.py caches the layer dirs per sf_dir);
# each DWS output is gated by the SAME DuckDB oracle as its batch
# form — chained-streaming == batch, layer boundaries and all.
# ---------------------------------------------------------------------------

from gmall_realtime_flink_spark.streaming import topology as _topology


@register(
    "chained_visitor_stats",
    oracle=REGISTRY["visitor_stats_union"].oracle,
    doc="DWS VisitorStatsApp at the end of the full chained topology: "
    "pv/sv consumed from the dwd_page_log layer, uv from "
    "dwm_unique_visit, uj from dwm_user_jump — the real 4-input U2 "
    "union across layer boundaries (VisitorStatsApp.java:80-141), "
    "10 s tumble. Oracle = the batch visitor_stats_union oracle "
    "(streaming/topology.py).",
    tags=("streaming", "topology", "union", "window"),
)
def chained_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topology.chained_visitor_stats(spark, sf_dir)


@register(
    "chained_product_stats",
    oracle=REGISTRY["product_stats_union"].oracle,
    doc="DWS ProductStatsApp at the end of the full chained topology: "
    "the U1 7-branch union pipeline consuming the dwd_page_log layer "
    "written by the BaseLogAPP split job (ProductStatsApp.java:241-316). "
    "Oracle = the batch product_stats_union oracle "
    "(streaming/topology.py).",
    tags=("streaming", "topology", "union", "window"),
)
def chained_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topology.chained_product_stats(spark, sf_dir)


@register(
    "chained_province_stats",
    oracle=REGISTRY["province_stats_sql"].oracle,
    doc="DWS ProvinceStatsSqlApp at the end of the full chained "
    "topology: SQL day-tumble with streaming-safe exact distinct over "
    "the dwd_order_info layer written by the BaseDBApp CDC-routing job "
    "(ProvinceStatsSqlApp.java:45-61), static dims broadcast-joined. "
    "Oracle = the batch province_stats_sql oracle "
    "(streaming/topology.py).",
    tags=("streaming", "topology", "sql", "window"),
)
def chained_province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topology.chained_province_stats(spark, sf_dir)


@register(
    "chained_keyword_stats",
    oracle=REGISTRY["keyword_stats_sql"].oracle,
    doc="DWS KeywordStatsApp at the end of the full chained topology: "
    "view events consumed from the dwd_page_log layer, search text "
    "broadcast-joined, tokenizer explode on the stream, 10 s tumble "
    "per keyword (KeywordStatsApp.java:56-88). Oracle = the batch "
    "keyword_stats_sql oracle (streaming/topology.py).",
    tags=("streaming", "topology", "udtf", "window"),
)
def chained_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topology.chained_keyword_stats(spark, sf_dir)
