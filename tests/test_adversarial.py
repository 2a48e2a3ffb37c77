"""Standing adversarial-corpus gate (the round-8 hostile-row classes).

`tools/gen_adversarial.py` builds a schema-exact corpus whose rows
attack everything merely *habitually* true of the driver testdata —
nulls in every nullable non-key column, dangling FKs, tie-heavy
values, unicode/empty/newline texts, zero-norm / 1e-30 / 1e6
embeddings, a NULL embedding array and a NULL document text. The
first full-registry run against it failed 21 of 165 entries (ANSI
divide-by-zero, int64 overflow at magnitude outliers, null-event-time
window divergence, null-swallowing sentinel filters, float32
underflow ordering, kernels without NULL contracts —
artifacts/r08/ADVERSARIAL_r08.json / SCALE.md round-8 notes).

This module keeps those of the 21 regression surfaces whose entries
are still registered under the DuckDB hash gate on every pytest run,
against a corpus generated fresh into tmp (deterministic, ~3 s). The
full-registry adversarial + empty-corpus passes stay in
`tools/verify_adversarial.py` (run per-round; ~200 s each).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.oracle import compare_query
from gmall_realtime_flink_spark.plans import REGISTRY

# the entries the round-8 adversarial pass caught, grouped by failure
# class (see module docstring); each is a distinct fixed code path
ONCE_FAILING = [
    # ANSI /0 on zero-norm vectors / empty docs
    "similarity_topk",
    "similarity_topk_ivf",
    "similarity_recall_at_k",
    "similarity_recall_curve",
    "dedup_embedding_cosine",
    "embedding_quantize_int8",
    # invalid-vector exclusion + float32 underflow ordering
    "knn_graph",
    "contrastive_hard_negatives",
    # int64 overflow at 1e6-magnitude vectors
    "embedding_pq_codes",
    # null event time: window drop / RANGE frame / cumulative order
    "province_stats_sql",
    "daily_gmv_moving_7d",
    "segment_running_total",
    # null-swallowing sentinel filters; streaming null event time
    "streaming_user_jump",
    "streaming_uv_dropdup_wm",
    "streaming_order_wide_left",
    "chained_province_stats",
    # round-10 non-finite classes: NaN/±Inf embedding elements (the
    # r10 hostile-rows gate caught knn/contrastive passing NaN norms
    # through `nrm > 0` under Spark's NaN ordering, and label
    # centroids erroring DuckDB's NaN->DECIMAL cast) and NaN/±Inf
    # event measures (quarantined to NULL at the scan in both engines)
    "label_centroids",
    "dedup_semantic",
    "visitor_stats",
]


@pytest.fixture(scope="session")
def adv_dir(tmp_path_factory) -> str:
    from tools.gen_adversarial import gen_adversarial

    out = str(tmp_path_factory.mktemp("adv"))
    gen_adversarial(out)
    return out


@pytest.mark.parametrize("name", ONCE_FAILING)
def test_once_failing_entry_stays_green_on_hostile_rows(spark, adv_dir, name):
    res = compare_query(spark, REGISTRY[name], adv_dir)
    assert res.ok, f"{name}: {res.detail}"


def test_dedup_semantic_adversarial_not_vacuous(spark, adv_dir):
    """The hostile-rows gate for dedup_semantic must NOT pass on an
    empty result (r10 ADVICE): the adversarial corpus carries 60 valid
    base vectors (vec_id 0-59) beneath the attack rows, so the kmeans
    seed set (vec_id < k=8) is populated and the assignment + in-cell
    pair stages actually run against the zero-norm / non-finite
    vectors. Pin that: the verdict set is non-empty, covers every
    VALID vector (base + finite attack rows 60-64/66), and the
    byte-identical pair 60/61 produces a real drop verdict."""
    from gmall_realtime_flink_spark.plans import REGISTRY

    rows = REGISTRY["dedup_semantic"].builder(spark, adv_dir).collect()
    assert len(rows) >= 60, "vacuous pass: kmeans chain produced no verdicts"
    by_id = {r.vec_id: r for r in rows}
    assert {60, 61, 62}.issubset(by_id)  # finite attack rows got verdicts
    # 61 is byte-identical to 60 -> same cell, cos 1.0 >= 0.4 -> dropped
    assert by_id[61].kept is False
    assert by_id[61].max_lower_sim == 1.0


def test_nonfinite_embeddings_excluded(spark, adv_dir):
    """valid_embeddings' finite-vector rule: NaN/±Inf-element vectors
    (adversarial vec_id 68-71) are excluded at the scan, exactly like
    NULL-element ones — Spark NaN ordering would otherwise let them
    through norm filters (NaN > 0 is TRUE) and DuckDB raises on
    NaN -> DECIMAL."""
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.similarity import (
        valid_embeddings,
    )

    e = load(spark, adv_dir, "embeddings")
    kept = {r.vec_id for r in valid_embeddings(e).select("vec_id").collect()}
    assert {68, 69, 70, 71}.isdisjoint(kept)
    assert {60, 61, 62}.issubset(kept)  # finite (incl. zero-norm) stay


def test_nonfinite_measures_quarantined(spark, adv_dir):
    """catalog.load / stream_events null a non-finite events.value at
    the scan (event_id 3009-3011: NaN/+Inf/-Inf) — the measure
    contract that keeps money/ratio consumers cross-engine safe
    (DuckDB raises on CAST(NaN AS DECIMAL) and stddev(NaN))."""
    from gmall_realtime_flink_spark.catalog import load

    e = load(spark, adv_dir, "events")
    rows = {
        r.event_id: r.value
        for r in e.filter(F.col("event_id") >= 3009).collect()
    }
    assert rows == {3009: None, 3010: None, 3011: None}

    from gmall_realtime_flink_spark.streaming.jobs import events_path
    from gmall_realtime_flink_spark.streaming.jobs import run_bounded
    from gmall_realtime_flink_spark.streaming.source import stream_events

    s = stream_events(spark, events_path(adv_dir))
    got = run_bounded(
        s.filter(F.col("event_id") >= 3009).select("event_id", "value"),
        spark,
    )
    srows = {r.event_id: r.value for r in got.collect()}
    assert srows == rows


def test_cents_sum_debug_assert_catches_nonfinite(spark, monkeypatch):
    """cents_sum's debug assert must catch NaN/Inf explicitly: Spark's
    NaN semantics make both other predicates pass (NaN < 0 is false;
    NaN = NaN is true so round(NaN) != NaN is false), yet the long
    cast silently yields 0 cents."""
    import pytest as _pytest

    from gmall_realtime_flink_spark.functions.compat import cents_sum

    monkeypatch.setenv("SPARK_GRAFT_DEBUG_ASSERTS", "1")
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),)], "v double"
    )
    with _pytest.raises(Exception, match="precondition"):
        df.agg(cents_sum("v").alias("s")).collect()
    df2 = spark.createDataFrame([(1.0,), (float("inf"),)], "v double")
    with _pytest.raises(Exception, match="precondition"):
        df2.agg(cents_sum("v").alias("s")).collect()
    # finite 2dp money still sums clean under the assert
    ok = spark.createDataFrame([(1.25,), (2.75,)], "v double")
    assert ok.agg(cents_sum("v").alias("s")).collect()[0].s == 4.0
