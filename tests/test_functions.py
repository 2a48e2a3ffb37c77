"""Unit tests for scalar/tokenizer helpers (X8, X11) and the Kafka
builder gating (S1-S4 — no broker in this container, so only the
builder-level contract is testable)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.functions.compat import (
    rename_snake_to_camel,
    snake_to_camel,
)
from gmall_realtime_flink_spark.functions.cjk import tokenize_mixed


def test_snake_to_camel():
    assert snake_to_camel("sink_table") == "sinkTable"
    assert snake_to_camel("source_table_name") == "sourceTableName"
    assert snake_to_camel("id") == "id"


def test_rename_snake_to_camel(spark):
    df = spark.createDataFrame([(1, "x")], ["order_id", "sku_name"])
    assert rename_snake_to_camel(df).columns == ["orderId", "skuName"]


def test_tokenize_mixed_cjk(spark):
    df = spark.createDataFrame(
        [("iPhone11 手机 Apple 苹果",), ("plain ascii only",)], ["text"]
    )
    got = [r[0] for r in df.select(tokenize_mixed(F.col("text"))).collect()]
    assert got[0] == ["iphone", "手", "机", "apple", "苹", "果"]
    assert got[1] == ["plain", "ascii", "only"]


def test_kafka_sink_requires_topic(spark):
    from gmall_realtime_flink_spark.streaming.kafka import kafka_sink

    df = spark.createDataFrame([(1, "a")], ["id", "sink_table"])
    with pytest.raises(ValueError):
        kafka_sink(df, brokers="b:9092", checkpoint="/tmp/x")


def test_kafka_source_needs_connector(spark):
    """Without the kafka connector jar, building the source raises the
    standard missing-data-source error (documented in kafka.py)."""
    from gmall_realtime_flink_spark.streaming.kafka import kafka_source

    try:
        kafka_source(spark, "b:9092", "t")
        has_connector = True
    except Exception as e:  # noqa: BLE001
        has_connector = False
        assert "kafka" in str(e).lower()
    if has_connector:
        pytest.skip("connector present; builder returned a plan")


def test_salted_join_equals_plain_join(spark, sf_dir):
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.joins import salted_join

    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    plain = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey", "l_partkey", "p_name"
    )
    salted = salted_join(l, p, "l_partkey", "p_partkey", salt=4).select(
        "l_orderkey", "l_partkey", "p_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left join parity too (unmatched big rows survive once)
    plain_l = l.join(p, l["l_partkey"] == p["p_partkey"], "left").select(
        "l_orderkey", "l_partkey", "p_name"
    )
    salted_l = salted_join(l, p, "l_partkey", "p_partkey", salt=4, how="left").select(
        "l_orderkey", "l_partkey", "p_name"
    )
    assert sorted(
        map(tuple, salted_l.collect()), key=str
    ) == sorted(map(tuple, plain_l.collect()), key=str)


def test_cjk_dict_segmentation(spark):
    """X11 dictionary grade: forward maximum matching on real Chinese
    text — multi-char dictionary words win over unigrams, OOV CJK
    degrades to unigrams, ASCII runs survive; Spark (Java regex) and
    DuckDB (RE2) segment IDENTICALLY, so the oracle is a
    transliteration."""
    import duckdb

    from gmall_realtime_flink_spark.functions.cjk import (
        dict_pattern,
        tokenize_cjk_dict,
    )

    texts = [
        "小米手机和苹果手机的价格",          # longest-first: 小米手机 beats 手机
        "用户在购物车下单并支付订单",
        "实时大数据分析平台",
        "人工智能与机器学习技术",
        "魑魅魍魉出没",                      # OOV -> unigrams
        "spark实时计算engine性能",           # mixed ASCII + CJK
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        r[0]
        for r in df.select(tokenize_cjk_dict(F.col("text")).alias("t"))
        .collect()
    ]
    assert got[0] == ["小米手机", "和", "苹果手机", "的", "价格"]
    assert got[1] == ["用户", "在", "购物车", "下单", "并", "支付", "订单"]
    assert got[2] == ["实时", "大数据", "分析", "平台"]
    assert got[3] == ["人工智能", "与", "机器学习", "技术"]
    assert got[4] == ["魑", "魅", "魍", "魉", "出", "没"]
    assert got[5] == ["spark", "实时", "计算", "engine", "性能"]

    con = duckdb.connect()
    pat = dict_pattern()
    want = [
        con.execute(
            "SELECT regexp_extract_all(lower(?), ?)", [t, pat]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want, "Spark and DuckDB segmentations diverge"


def test_trie_pattern_equals_flat_pattern():
    """The prefix-factored (trie) alternation must segment EXACTLY like
    the flat longest-first alternation — on arbitrary text over the
    dictionary alphabet (worst case: shared prefixes forcing
    backtracking) and on a 10x synthetic dictionary (the ~100k-word
    scale form the module documents)."""
    import random
    import re

    from gmall_realtime_flink_spark.functions.cjk import (
        CJK_WORDS,
        dict_pattern,
        trie_pattern,
    )

    flat, trie = re.compile(dict_pattern()), re.compile(trie_pattern())
    chars = sorted({c for w in CJK_WORDS for c in w})
    rng = random.Random(7)
    for _ in range(2000):
        s = "".join(
            rng.choice(chars + list("abcxyz "))
            for _ in range(rng.randint(0, 40))
        )
        assert flat.findall(s) == trie.findall(s), s

    big = list(CJK_WORDS)
    while len(big) < len(CJK_WORDS) * 10:
        big.append(
            "".join(rng.choice(chars) for _ in range(rng.randint(2, 4)))
        )
    flat_b = re.compile(dict_pattern(tuple(big)))
    trie_b = re.compile(trie_pattern(tuple(big)))
    for _ in range(200):
        s = "".join(rng.choice(chars + list("abc")) for _ in range(200))
        assert flat_b.findall(s) == trie_b.findall(s)


def test_sketch_accuracy_vs_exact(spark, sf_dir):
    """The 100 TB substitutes for exact distinct/percentile are
    sketches; pin their accuracy contracts against the exact answers:
    approx_count_distinct (HLL++) within its rsd bound, and
    approx_percentile (accuracy=10000) within ~1% rank error."""
    from gmall_realtime_flink_spark.catalog import load

    l = load(spark, sf_dir, "lineitem")

    exact_d, approx_d = (
        l.agg(
            F.countDistinct("l_partkey").alias("e"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("a"),
        )
        .collect()[0]
    )
    assert abs(approx_d - exact_d) / exact_d < 0.06, (exact_d, approx_d)

    row = l.agg(
        F.percentile("l_extendedprice", F.lit(0.9)).alias("e"),
        F.expr(
            "approx_percentile(l_extendedprice, 0.9, 10000)"
        ).alias("a"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # rank-error bound: the approx p90 must sit between the exact
    # p89 and p91 values
    lo, hi = (
        l.agg(
            F.percentile("l_extendedprice", F.lit(0.89)).alias("lo"),
            F.percentile("l_extendedprice", F.lit(0.91)).alias("hi"),
        )
        .collect()[0]
    )
    assert lo <= row.a <= hi, (lo, row.a, hi)


def test_kafka_envelope_roundtrip(spark):
    """S2/S3/S4 wire shape without a broker: a frame with the real
    Kafka source schema (binary key/value + topic/partition/offset
    metadata) parses through parse_json_value, and kafka_envelope
    re-encodes payload rows to (value, topic) — roundtrip preserves
    every payload column and routes the per-record topic."""
    import json

    from pyspark.sql import types as T
    from gmall_realtime_flink_spark.streaming.kafka import (
        kafka_envelope,
        parse_json_value,
    )

    payload = spark.createDataFrame(
        [(1, "a", "dwd_page_log"), (2, "b", "dwd_order_info")],
        ["id", "name", "sink_table"],
    )
    env = kafka_envelope(payload, topic_col="sink_table")
    assert env.columns == ["value", "topic"]
    rows = {r.topic: json.loads(r.value) for r in env.collect()}
    assert rows["dwd_page_log"] == {"id": 1, "name": "a"}
    assert rows["dwd_order_info"] == {"id": 2, "name": "b"}

    # the Kafka SOURCE wire schema, as the connector would deliver it
    wire_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    from datetime import datetime

    wire = spark.createDataFrame(
        [
            (
                None,
                json.dumps({"id": 7, "ts": "2024-01-01 00:00:05"}).encode(),
                "t",
                0,
                42,
                datetime(2024, 1, 1),
                0,
            )
        ],
        wire_schema,
    )
    parsed = parse_json_value(
        wire,
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
        ts_col="ts",
        watermark="2 seconds",
    )
    got = parsed.collect()
    assert got[0].id == 7 and got[0].ts == datetime(2024, 1, 1, 0, 0, 5)


def test_ranked_topk_nan_null_order_matches_desc_sort(spark):
    """Review regression: the sort_array rank must mirror ORDER BY
    cos_sim DESC edge order — NaN first, NULL last — not the flipped
    order a bare negation gives (-NaN is NaN and sorts last asc)."""
    from gmall_realtime_flink_spark.operators.similarity import _ranked_topk

    scored = spark.createDataFrame(
        [(1, 0.9), (2, float("nan")), (3, 0.5), (4, None)],
        ["vec_id", "cos_sim"],
    )
    got = {r["vec_id"]: r["rk"] for r in _ranked_topk(scored, 4).collect()}
    assert got == {2: 1, 1: 2, 3: 3, 4: 4}


def test_session_window_exact_gap_merges(spark):
    """Boundary-semantics pin for the sessionization oracles: an event
    landing EXACTLY gap-duration after the previous one MERGES into
    the same session_window (and one microsecond later does not), so
    the gap-islands oracle must break on gap STRICTLY greater than
    the duration."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def n_sessions(delta_us):
        df = spark.createDataFrame(
            [(1, t0), (1, t0 + dt.timedelta(microseconds=delta_us))],
            ["user_id", "ts"],
        )
        return (
            df.groupBy("user_id", F.session_window("ts", "10 minutes"))
            .count()
            .count()
        )

    assert n_sessions(600_000_000) == 1
    assert n_sessions(600_000_001) == 2


def test_minhash_xxhash64_fast_path(spark, sf_dir):
    """The off-oracle xxhash64 MinHash path: exact-duplicate texts MUST
    be candidate pairs under ANY hash function (identical shingles →
    identical signature → every band collides), and the xxhash64
    candidate set must agree with the md5 set on those pairs. Also pins
    partition-invariance of the fast path (no hex strings anywhere —
    signatures are 8 longs)."""
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
    )

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    # inject exact dups with known ids: copy each of the 5 longest docs
    # under doc_id+100000 (sf0.001's 50 docs carry no natural dups)
    copies = (
        base.orderBy(F.length("text").desc(), "doc_id")
        .limit(5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    dup_pairs = {
        (r["doc_id"] - 100000, r["doc_id"]) for r in copies.collect()
    }
    assert len(dup_pairs) == 5
    docs = base.unionByName(copies)

    sigs = minhash_signatures(docs, hash_impl="xxhash64")
    assert dict(sigs.dtypes)["h0"] == "bigint"  # longs, not hex strings
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(sigs, hash_impl="xxhash64").collect()
    }
    assert dup_pairs <= cands

    md5_cands = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(minhash_signatures(docs)).collect()
    }
    assert dup_pairs <= md5_cands


def test_lsh_max_bucket_guard(spark):
    """The hot-bucket guard: boilerplate (one text shared by many docs)
    floods a band bucket with k(k-1)/2 pairs; max_bucket drops those
    buckets while rare duplicate pairs (bucket size 2) survive. A cap
    above the largest bucket must be a no-op."""
    from gmall_realtime_flink_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rare = "completely unique ridge pattern sentence with many words inside"
    rows = [(i, boiler) for i in range(40)] + [(100, rare), (101, rare)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(docs)
    full = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidates(sigs).collect()
    }
    assert (100, 101) in full
    assert len(full) >= 40 * 39 // 2  # boilerplate clique present

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(sigs, max_bucket=10).collect()
    }
    assert (100, 101) in capped  # rare dup survives
    assert not any(a < 40 and b < 40 for a, b in capped)  # clique gone

    uncapped_equiv = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(sigs, max_bucket=1000).collect()
    }
    assert uncapped_equiv == full  # cap above max bucket is a no-op


def test_jaccard_length_prefilter_is_exact(spark, sf_dir):
    """The size-ratio guard (J <= min/max) must not change results:
    prefilter on vs off identical over the real LSH candidates, and on
    an adversarial corpus sitting exactly ON the threshold boundary
    (J == t with size ratio == t, plus a rounded-up J just under t)."""
    from gmall_realtime_flink_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidates,
        minhash_signatures,
    )
    from gmall_realtime_flink_spark.plans.gmall import load

    d = load(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(d))
    on = {
        tuple(r)
        for r in jaccard_verify(
            cand, d, threshold=0.2, length_prefilter=True
        ).collect()
    }
    off = {
        tuple(r) for r in jaccard_verify(cand, d, threshold=0.2).collect()
    }
    assert on == off and len(on) > 0

    # Boundary corpus: doc 1 = 2-gram set of size 7 wholly contained in
    # doc 2's set of size 35 => J = 7/35 = 0.2 exactly AND size ratio
    # exactly 0.2 — the naive float guard (min >= 0.2*max, where
    # 0.2*35 = 7.000000000000001 in doubles) would drop it.
    # linear token chain: k+1 tokens -> k distinct 2-grams (tokenize
    # keeps [a-z]+ runs only, so spell indices out in letters)
    def w(prefix, i):
        return prefix + "abcdefghijklmnopqrstuvwxyz"[i] * 2

    chain = [w("t", i) for i in range(8)]  # 7 2-grams
    chain_b = chain + [w("u", i) for i in range(28 - 26)] + [
        w("v", i) for i in range(26)
    ]  # 35 2-grams, superset
    docs = spark.createDataFrame(
        [(1, " ".join(chain)), (2, " ".join(chain_b))],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = {
        tuple(r)
        for r in jaccard_verify(
            pairs, docs, threshold=0.2, length_prefilter=True
        ).collect()
    }
    ref = {
        tuple(r)
        for r in jaccard_verify(pairs, docs, threshold=0.2).collect()
    }
    assert got == ref == {(1, 2, 0.2)}


def test_prefix_filter_max_df_guard(spark):
    """The hot-prefix-token guard mirrors LSH's max_bucket: a token in
    more than max_df docs is dropped from prefixes, killing the
    boilerplate clique while rare duplicate pairs survive. A cap above
    the largest df must reproduce the uncapped candidate set exactly
    (modulo the positional filter, which capped mode turns off, so the
    capped-loose set must be a superset of the uncapped one)."""
    from gmall_realtime_flink_spark.operators.dedup import (
        prefix_filter_candidates,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rare = "completely unique ridge pattern sentence with many words inside"
    rows = [(i, boiler) for i in range(40)] + [(100, rare), (101, rare)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_candidates(docs, threshold=0.8).collect()
    }
    assert (100, 101) in full
    assert len(full) >= 40 * 39 // 2  # boilerplate clique present

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_candidates(
            docs, threshold=0.8, max_df=10
        ).collect()
    }
    assert (100, 101) in capped  # rare dup survives (df = 2 per shingle)
    assert not any(a < 40 and b < 40 for a, b in capped)  # clique gone

    loose = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_candidates(
            docs, threshold=0.8, max_df=10_000
        ).collect()
    }
    assert loose >= full  # no-op cap only re-admits positional prunes


def test_trie_pattern_equals_flat_pattern_50k_words():
    """The 100k-word scale claim, executed at half that size: a 50k-word
    synthetic dictionary (2-4 char words, dense shared prefixes), the
    prefix-factored trie pattern must segment EXACTLY like the flat
    longest-first alternation. hypothesis drives the text generator
    through the adversarial cases (dictionary-word concatenations,
    shared-prefix truncations, OOV chars, ASCII runs) — any divergence
    is a counterexample to the greedy-continuation argument in
    functions/cjk.trie_pattern."""
    import re

    from hypothesis import given, settings, strategies as st

    from gmall_realtime_flink_spark.functions.cjk import (
        dict_pattern,
        synthetic_dictionary,
        trie_pattern,
    )

    words = synthetic_dictionary(50_000)
    flat = re.compile(dict_pattern(words))
    trie = re.compile(trie_pattern(words))
    some_words = words[::997]  # ~50 spread across the sorted dictionary
    prefixes = [w[:-1] for w in some_words if len(w) > 2]
    atoms = st.one_of(
        st.sampled_from(some_words),
        st.sampled_from(prefixes),
        st.sampled_from(["中", "鿿", "a", "xyz", " ", "？"]),
    )
    texts = st.lists(atoms, min_size=0, max_size=12).map("".join)

    @settings(max_examples=60, deadline=None)
    @given(texts)
    def check(s):
        assert flat.findall(s) == trie.findall(s), s

    check()


def test_trie_pattern_50k_words_in_spark(spark):
    """The same 50k-word trie pattern executed by the JVM regex engine
    inside regexp_extract_all — Spark must (a) accept the ~250 KB
    pattern and (b) agree with the flat alternation on a mixed corpus.
    This is the cross-engine half of the scale claim (Python re is
    backtracking like Java, but only the JVM run proves the plan)."""
    import random

    from pyspark.sql import functions as F

    from gmall_realtime_flink_spark.functions.cjk import (
        dict_pattern,
        synthetic_dictionary,
        trie_pattern,
    )

    words = synthetic_dictionary(50_000)
    rng = random.Random(3)
    sample = list(words[::499])
    texts = [
        "".join(
            rng.choice(sample + ["中", "abc ", "x"])
            for _ in range(rng.randint(1, 12))
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got_trie = [
        r["t"]
        for r in df.select(
            F.regexp_extract_all(
                F.lower("text"), F.lit(trie_pattern(words)), 0
            ).alias("t")
        ).collect()
    ]
    got_flat = [
        r["t"]
        for r in df.select(
            F.regexp_extract_all(
                F.lower("text"), F.lit(dict_pattern(words)), 0
            ).alias("t")
        ).collect()
    ]
    assert got_trie == got_flat
    assert any(len(t) > 1 for t in got_trie)  # real segmentation happened


def test_cents_sum_debug_asserts(spark, monkeypatch):
    """cents_sum precondition (non-negative, <=2dp) is enforceable:
    with SPARK_GRAFT_DEBUG_ASSERTS=1 a violating row raises instead of
    silently rounding half-down / quantizing (r7 ADVICE item 1)."""
    from gmall_realtime_flink_spark.functions.compat import cents_sum

    ok = spark.createDataFrame([(1.25,), (2.50,)], "v double")
    bad_neg = spark.createDataFrame([(1.25,), (-2.50,)], "v double")
    bad_3dp = spark.createDataFrame([(1.125,)], "v double")

    # default: pure-codegen path, no checks injected
    assert ok.agg(cents_sum("v").alias("s")).collect()[0]["s"] == 3.75

    monkeypatch.setenv("SPARK_GRAFT_DEBUG_ASSERTS", "1")
    assert ok.agg(cents_sum("v").alias("s")).collect()[0]["s"] == 3.75
    for bad in (bad_neg, bad_3dp):
        with pytest.raises(Exception, match="cents_sum precondition"):
            bad.agg(cents_sum("v").alias("s")).collect()


def test_cents_sum_asserts_hold_on_money_entries(spark, sf_dir, monkeypatch):
    """The cents_sum precondition guard RUNS routinely (r8 VERDICT
    item 7): every registry entry that aggregates money through
    cents_sum is executed with SPARK_GRAFT_DEBUG_ASSERTS=1, so a
    violating row in real testdata (negative or >2dp money) raises
    here instead of silently rounding half-down in CI-silent paths.
    The entry set is derived by grep over plans/gmall.py call sites —
    update it when a new entry adopts cents_sum."""
    from gmall_realtime_flink_spark.plans import REGISTRY

    monkeypatch.setenv("SPARK_GRAFT_DEBUG_ASSERTS", "1")
    for name in ("visitor_stats", "province_stats",
                 "visitor_stats_union", "visitor_stats_4d"):
        # builders read the env at plan-build time, so rebuild inside
        # the monkeypatched scope; any precondition violation raises
        # at collect
        rows = REGISTRY[name].builder(spark, sf_dir).collect()
        assert rows, f"{name} returned no rows under debug asserts"


def test_cents_sum_headroom_past_int64_cents(spark):
    """The per-row decimal(18,0) cast means the SUM accumulates in a
    DECIMAL(28,0) buffer: totals past the int64-cents ceiling
    (9.2e16 dollars) stay exact instead of wrapping (r7 ADVICE item
    2). 200 rows x 9.9e14 dollars = 1.98e17 dollars > 2^63 cents."""
    from gmall_realtime_flink_spark.functions.compat import cents_sum

    df = spark.range(200).selectExpr("cast(990000000000000.0 as double) AS v")
    got = df.agg(cents_sum("v").alias("s")).collect()[0]["s"]
    assert got == 200 * 990000000000000.0


def test_socket_sink_fixed_topic_route_validated_up_front(spark):
    """A fixed topic missing from `routes` fails at sink-build time,
    before any row is sent anywhere (r7 ADVICE item 3)."""
    from gmall_realtime_flink_spark.streaming.kafka import socket_sink

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="no route"):
        socket_sink(df, routes={"a": ("localhost", 1)},
                    checkpoint="/tmp/x", topic="missing")


def test_repeated_substring_spans_semantics(spark):
    """Exact-substring dedup semantics on a constructed corpus: a
    cross-doc repeated 12-token span yields ONE maximal interval (not
    five overlapping 8-gram hits), a within-doc repeat is detected,
    unique text yields nothing, and short docs are skipped."""
    from gmall_realtime_flink_spark.operators.dedup import (
        repeated_substring_spans,
    )

    rep = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    docs = spark.createDataFrame(
        [
            # doc 0/1: the 12-token span repeated verbatim cross-doc,
            # embedded at different offsets
            (0, "zero one two " + rep + " tail words here"),
            (1, rep + " completely different ending text now"),
            # doc 2: within-doc repetition of an 8-token run
            (2, "pad " + "w1 w2 w3 w4 w5 w6 w7 w8" + " mid filler "
                + "w1 w2 w3 w4 w5 w6 w7 w8" + " end"),
            # doc 3: unique text, nothing repeated
            (3, "entirely unique tokens qq ww ee rr tt yy uu ii oo pp"),
            # doc 4: too short for an 8-gram
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in repeated_substring_spans(docs, k=8).collect()
    }
    # doc 0: rep occupies tokens 4..15 (1-based, after 3 prefix tokens)
    assert (0, 4, 15, 12) in rows
    # doc 1: rep occupies tokens 1..12
    assert (1, 1, 12, 12) in rows
    # doc 2: both occurrences marked (tokens 2..9 and 12..19)
    assert (2, 2, 9, 8) in rows and (2, 12, 19, 8) in rows
    assert not any(d == 3 or d == 4 for d, *_ in rows)
    # exactly the four spans above — maximality: no sub-spans emitted
    assert len(rows) == 4


def test_remove_repeated_substrings_semantics(spark):
    """The cutter removes exactly the covered tokens: doc 0 loses its
    embedded 12-token repeated span but keeps prefix+suffix; a
    fully-repeated doc emits no row; unique docs come back verbatim
    (tokenized form)."""
    from gmall_realtime_flink_spark.operators.dedup import (
        remove_repeated_substrings,
    )

    rep = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    docs = spark.createDataFrame(
        [
            (0, "zero one two " + rep + " tail words here"),
            (1, rep),  # fully covered -> no row
            (2, "entirely unique tokens qq ww ee rr tt yy uu ii oo pp"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_kept)
        for r in remove_repeated_substrings(docs, k=8).collect()
    }
    assert got[0] == ("zero one two tail words here", 6)
    assert 1 not in got
    assert got[2] == (
        "entirely unique tokens qq ww ee rr tt yy uu ii oo pp", 13)


def test_embedding_near_dup_numpy_matches_expr(spark, sf_dir):
    """The Arrow/numpy production kernel must agree with the
    oracle-gated JVM-fold path: identical pair SETS and cosine values
    within 2e-6 (different float64 summation ORDER, same arithmetic —
    the xxhash64-vs-md5 split of the ANN family)."""
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_numpy,
    )

    e = load(spark, sf_dir, "embeddings")
    expr_rows = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_near_dup_pairs(e, threshold=0.4).collect()
    }
    np_rows = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_near_dup_pairs_numpy(e, threshold=0.4).collect()
    }
    assert expr_rows.keys() == np_rows.keys()
    assert expr_rows, "parity test needs a non-empty pair set"
    for k, v in expr_rows.items():
        assert abs(v - np_rows[k]) <= 2e-6, (k, v, np_rows[k])


def test_semantic_dedup_numpy_matches_expr(spark):
    """SemDeDup's BLAS production twin must agree with the oracle-gated
    expr path: identical cell assignment and kept SETS, max_lower_sim
    within 2e-6 (different float64 summation order, same arithmetic —
    the established twin contract). Run at sf0.1 (2000 vectors, 289
    drops) so the kept set is non-trivial."""
    from gmall_realtime_flink_spark.catalog import load
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_numpy,
    )

    e = load(spark, "/root/testdata/sf0.1", "embeddings")
    expr_rows = {
        r.vec_id: (r.cell, r.max_lower_sim, r.kept)
        for r in semantic_dedup(e, threshold=0.4).collect()
    }
    np_rows = {
        r.vec_id: (r.cell, r.max_lower_sim, r.kept)
        for r in semantic_dedup_numpy(e, threshold=0.4).collect()
    }
    assert expr_rows.keys() == np_rows.keys()
    assert sum(1 for c, m, k in expr_rows.values() if not k) > 0
    for vid, (cell, m, kept) in expr_rows.items():
        ncell, nm, nkept = np_rows[vid]
        assert cell == ncell, (vid, cell, ncell)
        assert kept == nkept, (vid, kept, nkept)
        if m is None:
            assert nm is None, (vid, nm)
        else:
            assert nm is not None and abs(m - nm) <= 2e-6, (vid, m, nm)


def test_semantic_dedup_max_cell_caps_hot_cell(spark):
    """Hot-cell insurance (VERDICT r10 item 2): a dominant cluster's
    cell is excluded from the quadratic pair block — members keep
    kept=TRUE / NULL sim verdicts flagged cell_capped=TRUE — while
    small cells are deduped exactly as the uncapped form. Expr and
    numpy twins must agree row-for-row."""
    import numpy as np

    from pyspark.sql import types as T

    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_numpy,
    )

    rng = np.random.default_rng(3)
    # seeds 0-7: spread-out unit vectors. 60 hot vectors near seed 0
    # (one cell of 61 > max_cell=20), 6 vectors near seed 3 (small
    # cell, real dups to drop).
    base = rng.standard_normal((8, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist(), 0) for i in range(8)]
    vid = 8
    for _ in range(60):
        v = base[0] + 0.02 * rng.standard_normal(16)
        rows.append((vid, v.tolist(), 0))
        vid += 1
    for _ in range(6):
        v = base[3] + 0.02 * rng.standard_normal(16)
        rows.append((vid, v.tolist(), 1))
        vid += 1
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    e = spark.createDataFrame(rows, schema)

    capped = {
        r.vec_id: r.asDict()
        for r in semantic_dedup(
            e, threshold=0.4, n_cells=8, max_cell=20
        ).collect()
    }
    uncapped = {
        r.vec_id: r.asDict()
        for r in semantic_dedup(e, threshold=0.4, n_cells=8).collect()
    }
    assert len(capped) == len(uncapped) == 74
    hot = {v for v, r in capped.items() if r["cell_capped"]}
    cold = set(capped) - hot
    assert len(hot) > 20, "cap never tripped"
    for v in hot:
        assert capped[v]["kept"] is True
        assert capped[v]["max_lower_sim"] is None
        assert uncapped[v]["kept"] is False or uncapped[v]["vec_id"] == min(
            u for u in hot if uncapped[u]["cell"] == uncapped[v]["cell"]
        )
    for v in cold:
        assert capped[v]["cell_capped"] is False
        # small cells: verdicts identical to the uncapped form
        assert capped[v]["kept"] == uncapped[v]["kept"]
        assert capped[v]["max_lower_sim"] == uncapped[v]["max_lower_sim"]
    # at least one real drop in a small cell survives the cap
    assert any(not capped[v]["kept"] for v in cold)

    np_rows = {
        r.vec_id: r.asDict()
        for r in semantic_dedup_numpy(
            e, threshold=0.4, n_cells=8, max_cell=20
        ).collect()
    }
    assert np_rows.keys() == capped.keys()
    for v, r in capped.items():
        nr = np_rows[v]
        assert nr["cell"] == r["cell"] and nr["kept"] == r["kept"]
        assert nr["cell_capped"] == r["cell_capped"]
        if r["max_lower_sim"] is None:
            assert nr["max_lower_sim"] is None
        else:
            assert abs(nr["max_lower_sim"] - r["max_lower_sim"]) <= 2e-6


def test_semantic_dedup_numpy_blocked_matches_small_blocks(spark):
    """The blocked in-cell matmul must be value-identical across block
    boundaries: run with block=8 so every cell spans several slabs and
    pin equality against the expr path (which has no blocking)."""
    import numpy as np

    from pyspark.sql import types as T

    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_numpy,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((8, 8))
    rows = [(i, (base[i % 8] + 0.1 * rng.standard_normal(8)).tolist(), 0)
            for i in range(64)]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    e = spark.createDataFrame(rows, schema)
    expr_rows = {
        r.vec_id: (r.cell, r.max_lower_sim, r.kept)
        for r in semantic_dedup(e, threshold=0.4, n_cells=8).collect()
    }
    np_rows = {
        r.vec_id: (r.cell, r.max_lower_sim, r.kept)
        for r in semantic_dedup_numpy(
            e, threshold=0.4, n_cells=8, block=8
        ).collect()
    }
    assert expr_rows.keys() == np_rows.keys()
    for v, (c, m, k) in expr_rows.items():
        nc, nm, nk = np_rows[v]
        assert (c, k) == (nc, nk)
        if m is None:
            assert nm is None
        else:
            assert abs(m - nm) <= 2e-6


def test_semantic_dedup_numpy_empty_seed_degrades_gracefully(spark):
    """r10 ADVICE: with NO valid vector below n_cells (ids shifted past
    the seed window) or an empty corpus, the numpy twin must return an
    empty verdict frame like the expr path — not ValueError on
    np.stack([])."""
    from pyspark.sql import types as T

    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_numpy,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    shifted = spark.createDataFrame(
        [(100 + i, [float(i + 1)] * 4, 0) for i in range(4)], schema
    )
    empty = spark.createDataFrame([], schema)
    for df in (shifted, empty):
        got_np = semantic_dedup_numpy(df, threshold=0.4, n_cells=8).collect()
        got_expr = semantic_dedup(df, threshold=0.4, n_cells=8).collect()
        assert got_np == [] and got_expr == []


def test_semantic_dedup_resplit_recovers_capped_drops(spark):
    """Hot-cell re-split (VERDICT r11 item 3): over-cap cells are
    re-clustered by a second kmeans and deduped within (cell,
    subcell) blocks. Invariants on the constructed skew corpus:
    every vector gets exactly one verdict; small-cell verdicts are
    bit-identical to the uncapped form; re-split drops are a SUBSET
    of the uncapped drops (same-cell pairs only get finer, never
    new); at least some of the drops the cap forwent are recovered;
    cell_capped now flags only sub-blocks still above the cap."""
    import numpy as np

    from pyspark.sql import types as T

    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_resplit,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((8, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist(), 0) for i in range(8)]
    vid = 8
    for _ in range(60):  # hot cell: 61 members > max_cell=20
        v = base[0] + 0.02 * rng.standard_normal(16)
        rows.append((vid, v.tolist(), 0))
        vid += 1
    for _ in range(6):  # small cell with real dups
        v = base[3] + 0.02 * rng.standard_normal(16)
        rows.append((vid, v.tolist(), 1))
        vid += 1
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    e = spark.createDataFrame(rows, schema)

    rs = {
        r.vec_id: r.asDict()
        for r in semantic_dedup_resplit(
            e, threshold=0.4, n_cells=8, max_cell=20
        ).collect()
    }
    unc = {
        r.vec_id: r.asDict()
        for r in semantic_dedup(e, threshold=0.4, n_cells=8).collect()
    }
    capped = {
        r.vec_id: r.asDict()
        for r in semantic_dedup(
            e, threshold=0.4, n_cells=8, max_cell=20
        ).collect()
    }
    assert len(rs) == len(unc) == 74  # one verdict per vector
    hot = {v for v, r in capped.items() if r["cell_capped"]}
    assert len(hot) > 20
    for v, r in rs.items():
        if v in hot:
            assert r["subcell"] is not None
            assert r["cell"] == unc[v]["cell"]
            # finer blocks only: a re-split drop implies an uncapped drop
            if not r["kept"]:
                assert not unc[v]["kept"]
        else:
            # small cells: bit-identical to the uncapped verdict
            assert r["subcell"] is None
            assert r["cell_capped"] is False
            assert r["kept"] == unc[v]["kept"]
            assert r["max_lower_sim"] == unc[v]["max_lower_sim"]
    lost = {v for v in hot if not unc[v]["kept"]}
    recovered = {v for v in lost if not rs[v]["kept"]}
    assert lost, "constructed hot cell produced no uncapped drops"
    assert recovered, "re-split recovered none of the capped-away drops"
    # cell_capped now means: THIS vector's sub-block is still over cap
    from collections import Counter

    blk = Counter((rs[v]["cell"], rs[v]["subcell"]) for v in hot)
    for v in hot:
        over = blk[(rs[v]["cell"], rs[v]["subcell"])] > 20
        assert rs[v]["cell_capped"] == over
        if over:  # still-capped members keep honest NULL/kept verdicts
            assert rs[v]["kept"] is True
            assert rs[v]["max_lower_sim"] is None


def test_shingles_total_on_short_arrays(spark):
    """shingles()/bigram transforms are TOTAL: arrays shorter than n
    yield [] instead of evaluating a DESCENDING sequence whose
    element_at(toks, 0) throws under ANSI. Callers filter short docs
    anyway, but a default session (no excluded optimizer rules) can
    push an inferred `size(shingles(...)) > 0` below the guard filter
    and CSE-hoist it above the short-circuit — the r13 hostile-corpus
    regression this pins. Evaluated here with NO pre-filter, which
    previously raised INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    from pyspark.sql import functions as F

    from gmall_realtime_flink_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(0, []), (1, ["one"]), (2, ["two", "words"]),
         (3, ["a", "b", "c"])],
        "id int, toks array<string>",
    )
    rows = {
        r["id"]: r["sh"]
        for r in df.select("id", shingles("toks", 2).alias("sh")).collect()
    }
    assert rows[0] == []
    assert rows[1] == []
    assert rows[2] == ["two words"]
    assert rows[3] == ["a b", "b c"]
