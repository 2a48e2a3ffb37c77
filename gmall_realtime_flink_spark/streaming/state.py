"""Keyed-state streaming operators (SURVEY §2.8 ST1/ST2/ST3).

Streaming re-expressions of the reference's Flink RichFunction/CEP
operators. Each has a batch-exact window-function analogue in
operators/stateful.py; tests/test_streaming.py asserts the two produce
identical results on bounded input (the equality the reference never
tests — SURVEY §5).

- ST1 visitor repair: `applyInPandasWithState` with the first visit
  date as per-key state (no warehouse chain job uses it).
- ST2 daily UV dedup: a watermarked 1-day tumble per key keeping the
  first (ts, event_id) — a built-in JVM aggregation.
- ST3 bounce detection: a session window per key (sessions split at
  every gap wider than the CEP `within`) keeping each session's last
  event — a built-in JVM aggregation.

The two warehouse-chain operators (ST2, ST3) are declarative, so the
engine makes them incremental and no Python worker runs them.

Scale notes:
- grouping key = the entity id (user/mid), so state is
  hash-partitioned exactly like Flink's keyBy; the RocksDB state-store
  provider (session.py) keeps it off-heap and spillable at 100 TB key
  counts;
- state is bounded by the watermark: one first-visit date per key
  (ST1), one (ts, event_id) per key and open day (ST2 — the
  reference's 1-day TTL is the window's eviction), one row per
  session the watermark has not closed yet (ST3; one per key in a
  steady stream).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _concat_sorted(pdfs: Iterator[pd.DataFrame], by: list[str]) -> pd.DataFrame:
    parts = [p for p in pdfs if len(p)]
    if not parts:
        return pd.DataFrame()
    return pd.concat(parts, ignore_index=True).sort_values(by, kind="mergesort")


# ---------------------------------------------------------------------------
# ST1: new/old-visitor repair (RT/app/dwd/BaseLogAPP.java:74-130)
# ---------------------------------------------------------------------------

REPAIR_OUT = "event_id long, user_id long, visit_date string, is_new int"
REPAIR_STATE = "first_date string"


def _repair_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    rows = _concat_sorted(pdfs, by=["ts", "event_id"])
    if rows.empty:
        return
    dates = rows["ts"].dt.strftime("%Y-%m-%d")
    if state.exists:
        (first,) = state.get
    else:
        # reference: state empty -> store this visit's date
        # (BaseLogAPP.java:115-124)
        first = dates.iloc[0]
        state.update((first,))
    yield pd.DataFrame(
        {
            "event_id": rows["event_id"],
            "user_id": rows["user_id"],
            "visit_date": dates,
            "is_new": (dates == first).astype("int32"),
        }
    )


def repair_is_new_stream(events: DataFrame, key: str = "user_id") -> DataFrame:
    """ST1 streaming form; parity target = operators.stateful.repair_is_new."""
    return events.groupBy(key).applyInPandasWithState(
        _repair_fn,
        outputStructType=REPAIR_OUT,
        stateStructType=REPAIR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# ST2: daily UV dedup (RT/app/dwm/UniqueVisitApp.java:66-124)
# ---------------------------------------------------------------------------


def uv_dedup_stream(events: DataFrame, key: str = "user_id") -> DataFrame:
    """ST2 streaming form; parity target = first event per (key, day).

    A watermarked 1-day tumble per key keeping `min(struct(ts,
    event_id))`: the exact first event, ties broken by event_id. A
    (key, day) row is emitted once the watermark passes the end of the
    day — the reference's 1-day state TTL (UniqueVisitApp.java:85-89)
    as the window's eviction — so a bounded stream needs a far-future
    event to close its last day, as ST3 needs one to fire its last
    timeout. Day windows are UTC days, the session time zone."""
    first = events.groupBy(
        F.col(key).alias("user_id"), F.window("ts", "1 day")
    ).agg(F.min(F.struct("ts", "event_id")).alias("first"))
    return first.select(
        "user_id",
        F.date_format("first.ts", "yyyy-MM-dd").alias("visit_date"),
        F.date_format("first.ts", TS_FMT).alias("first_ts"),
    )


# ---------------------------------------------------------------------------
# ST3: CEP bounce detection w/ event-time timeout
# (RT/app/dwm/UserJumpApp.java:88-158)
# ---------------------------------------------------------------------------


def jump_detect_stream(
    events: DataFrame, key: str = "user_id", gap_ms: int = 600_000
) -> DataFrame:
    """ST3 streaming form; parity target = operators.stateful.jump_detect.

    The CEP pattern `begin(entry).next(any).within(gap)` with the
    timeout side-output as the match: an event is a jump iff no later
    event of its key (by (ts, event_id)) follows within `gap_ms`. So the
    key's events split into sessions at every gap wider than `gap_ms`,
    and each session's last event is a jump: a session window per key
    keeping `max(struct(ts, event_id))`, emitted once the watermark
    passes the session's end — Flink CEP's `within` timeout
    (UserJumpApp.java:137-156). State is one row per session the
    watermark has not closed yet.

    The gap is compared in milliseconds, as the batch form (unix_millis)
    and the DuckDB oracle (date_diff('millisecond')) do: each event's
    session reaches to 1 µs before the millisecond `gap_ms + 1` after
    its own millisecond, and Spark merges sessions that touch, so the
    next event joins the session iff it is at most `gap_ms` ms later.

    Requires a watermark on `ts`. On a bounded stream the last session
    per key only closes once something advances the watermark past it —
    tests append a far-future sentinel event file for exactly that
    purpose (a stream, by definition, never ends).
    """
    reach_us = (gap_ms + 1) * 1000 - 1
    gap = F.expr(
        f"make_interval(0, 0, 0, 0, 0, 0, CAST(({reach_us} "
        "- pmod(unix_micros(ts), 1000)) AS DECIMAL(18, 0)) / 1000000)"
    )
    last = events.groupBy(
        F.col(key).alias("user_id"), F.session_window("ts", gap)
    ).agg(F.max(F.struct("ts", "event_id")).alias("last"))
    return last.select(
        F.col("last.event_id").alias("event_id"),
        "user_id",
        F.date_format("last.ts", TS_FMT).alias("jump_ts"),
    )


# ---------------------------------------------------------------------------
# Streaming sequence packing (beyond-reference: continuous-ingest
# training-batch construction; batch analogue operators/packing.py)
# ---------------------------------------------------------------------------

PACK_OUT = "doc_id long, bucket int, n_tokens int, pack_id long"
PACK_STATE = "next_pack long, tokens_used long"


def _pack_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Greedy packing with bucket-keyed state: (current pack ordinal,
    tokens already in it) survives micro-batches, so a pack keeps
    filling across arrivals. Within a batch rows are ordered by the
    content-stable sort key for determinism; ACROSS batches order is
    arrival order — streaming packing is an online algorithm, so its
    assignment legitimately differs from the batch operator's
    global-hash-order packing (budget semantics are identical and
    pytest-pinned; no SQL oracle is claimed)."""
    rows = _concat_sorted(pdfs, by=["sort_key", "doc_id"])
    if rows.empty:
        return
    if state.exists:
        next_pack, used = state.get
    else:
        next_pack, used = 0, 0
    budget = int(rows["budget"].iloc[0])
    out_pack = []
    for n in rows["n_tokens"]:
        n = int(n)
        if used > 0 and used + n > budget:
            next_pack += 1
            used = 0
        out_pack.append(next_pack)
        used += n
    state.update((int(next_pack), int(used)))
    yield pd.DataFrame(
        {
            "doc_id": rows["doc_id"],
            "bucket": rows["bucket"].astype("int32"),
            "n_tokens": rows["n_tokens"].astype("int32"),
            "pack_id": out_pack,
        }
    )


def pack_stream(
    docs: DataFrame,
    budget_tokens: int = 256,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming greedy sequence packing: documents are hash-bucketed
    (same deterministic bucket as the batch operator), and per-bucket
    state carries the open pack across micro-batches — the
    continuous-ingest form of operators/packing.pack_documents.

    Online vs batch: this is TRUE first-fit (a doc that would
    overflow the open pack closes it and starts the next), whereas
    the batch operator uses the cumulative-cut formulation — both
    respect the budget bound, and the streaming form never skips
    pack ids. At 100 TB: bucket = state partition key; state is two
    longs per bucket.
    """
    from gmall_realtime_flink_spark.operators.packing import _ws_tokens
    from gmall_realtime_flink_spark.operators.sampling import hash_bucket

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        hash_bucket(F.col(id_col), n_buckets).cast("int").alias("bucket"),
        F.md5(F.col(id_col).cast("string")).alias("sort_key"),
        F.size(_ws_tokens(F.col(text_col))).alias("n_tokens"),
        F.lit(budget_tokens).alias("budget"),
    )
    return base.groupBy("bucket").applyInPandasWithState(
        _pack_fn,
        outputStructType=PACK_OUT,
        stateStructType=PACK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
