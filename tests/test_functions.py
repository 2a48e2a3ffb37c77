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


def test_simhash16_guard_raises_past_threshold(spark, monkeypatch):
    """The 16-bit SimHash scale cliff is guarded in CODE, not just
    docs: >= C(n,2)/2^16 hamming-0 output pairs are forced by
    pigeonhole on any corpus, so the builder refuses corpora past
    SIMHASH16_MAX_DOCS unless the measurement-harness override is set
    (VERDICT r7 task #3)."""
    from gmall_realtime_flink_spark.plans.datapipe import (
        SIMHASH16_MAX_DOCS,
        _guard_simhash16_corpus_size,
    )

    monkeypatch.delenv("SPARK_GRAFT_ALLOW_SIMHASH16", raising=False)
    small = spark.range(10).selectExpr("id AS doc_id", "'t' AS text")
    _guard_simhash16_corpus_size(small)  # under threshold: no-op

    big = spark.range(SIMHASH16_MAX_DOCS + 1).selectExpr(
        "id AS doc_id", "'t' AS text"
    )
    with pytest.raises(ValueError, match="dedup_simhash_hamming_wide"):
        _guard_simhash16_corpus_size(big)

    # the moments-tier harness measures the cliff deliberately
    monkeypatch.setenv("SPARK_GRAFT_ALLOW_SIMHASH16", "1")
    _guard_simhash16_corpus_size(big)


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


def test_decode_media_parses_foreign_bytes():
    """decode_media must be a real parser, not an echo of the payload
    generator: hand-built payloads (top-down BMP, PPM with commentless
    multi-digit dims, WAV with an extra chunk BEFORE data) decode
    correctly, and compressed/unknown magics fail honestly."""
    import struct

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.multimodal import decode_media

    # BMP with NEGATIVE height (top-down row order) and stride padding:
    # 2x2 px, rows are 6 bytes + 2 padding. Top row pixels 1, bottom 2.
    w, h = 2, 2
    stride = 8
    header = struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0,
                       stride * h, 0, 0, 0, 0)
    rows = bytes([1] * 6) + b"\x00\x00" + bytes([2] * 6) + b"\x00\x00"
    d = decode_media(header + info + rows)
    assert (d["width"], d["height"]) == (2, 2)
    # top-down file: first stored row IS the top row; padding stripped
    assert d["values"] == bytes([1] * 6 + [2] * 6)

    # PPM with multi-digit dims and newline/space mixing
    d = decode_media(b"P6\n12 1\n255\n" + bytes(range(36)))
    assert (d["width"], d["height"]) == (12, 1)
    assert d["values"] == bytes(range(36))

    # WAV with a LIST chunk between fmt and data (chunk walk, not
    # fixed offsets) and an odd-sized chunk (word alignment)
    samples = struct.pack("<3h", 10, -20, 30)
    wav = (
        struct.pack("<4sI4s", b"RIFF", 4 + 24 + 12 + 5 + 1 + 14, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16)
        + struct.pack("<HHIIHH", 1, 1, 22050, 44100, 2, 16)
        + struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # odd+pad
        + struct.pack("<4sI", b"data", 6) + samples
    )
    d = decode_media(wav)
    assert d["sample_rate"] == 22050 and d["values"] == [10, -20, 30]

    # PNG now REALLY decodes (stdlib zlib) — a truncated body is a
    # parse error, not a codec gap
    with _pytest.raises(ValueError):
        decode_media(b"\x89PNG\r\n\x1a\n....")
    # MP4 now REALLY parses (ISO-BMFF walk) — a box that declares a
    # size past EOF is a parse error, not a codec gap (the named
    # NotImplementedError for avc1/moof is covered in the mp4 tests)
    with _pytest.raises(ValueError):
        decode_media(b"\x00\x00\x00\x18ftypmp42")
    with _pytest.raises(ValueError):
        decode_media(b"ZZZZZZZZ")
    # stereo / non-PCM / deep BMP are named, not silently misread
    with _pytest.raises(NotImplementedError):
        decode_media(
            struct.pack("<4sI4s", b"RIFF", 40, b"WAVE")
            + struct.pack("<4sI", b"fmt ", 16)
            + struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
            + struct.pack("<4sI", b"data", 0)
        )


def test_png_codec_roundtrip_all_filters_and_color_types():
    """The PNG decoder is a REAL codec (stdlib zlib: inflate + CRC):
    gradient images — where every filter produces different bytes —
    round-trip bit-exactly through all five scanline filters (the
    encoder cycles 0..4 per row) for gray/RGB/RGBA, palette indices
    expand through PLTE, CRC corruption and truncation fail loudly,
    and unsupported spec corners (Adam7, 16-bit) raise honestly."""
    import struct
    import zlib

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_media,
        encode_png,
    )

    w, h = 7, 11  # h > 5 -> every filter type appears at least twice
    for ctype, ch in ((0, 1), (2, 3), (6, 4)):
        px = bytes(
            ((x * 3 + c) * 5 + y * 13) % 256
            for y in range(h) for x in range(w) for c in range(ch)
        )
        d = decode_media(encode_png(w, h, px, color_type=ctype))
        assert d["fmt"] == "png" and (d["width"], d["height"]) == (w, h)
        assert d["channels"] == ch and d["values"] == px

    # palette: varying index stream expands through PLTE to RGB
    pal = bytes([10, 20, 30, 200, 100, 50, 7, 8, 9])
    idx = bytes((x * y) % 3 for y in range(h) for x in range(w))
    d = decode_media(encode_png(w, h, idx, color_type=3, palette=pal))
    assert d["channels"] == 3
    assert d["values"] == b"".join(pal[3 * i : 3 * i + 3] for i in idx)

    # CRC corruption is detected (flip a byte inside IHDR data)
    good = bytearray(encode_png(3, 3, bytes(27), color_type=2))
    good[16] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_media(bytes(good))

    # foreign bytes: a minimal single-IDAT filter-0 PNG not produced
    # by our encoder (parser, not echo)
    raw = b"\x00" + bytes([5, 6, 7])  # 1x1 RGB, filter 0
    foreign = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_media(foreign)["values"] == bytes([5, 6, 7])

    # honest gaps: sub-byte depths (1/2/4) stay NotImplementedError;
    # an out-of-spec interlace method is a loud parse error.
    # (Adam7 and 16-bit decode for REAL since r13 —
    # test_png_adam7_and_16bit_roundtrip.)
    for depth, interlace, exc in (
        (4, 0, _pytest.raises(NotImplementedError)),
        (1, 0, _pytest.raises(NotImplementedError)),
        (8, 2, _pytest.raises(ValueError, match="interlace")),
    ):
        bad = (
            _PNG_SIG
            + _png_chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", 1, 1, depth, 2, 0, 0, interlace),
            )
            + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00"))
            + _png_chunk(b"IEND", b"")
        )
        with exc:
            decode_media(bad)

    # paletted without PLTE is a parse error
    noplte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="PLTE"):
        decode_media(noplte)


def test_gif_codec_roundtrip_and_foreign_bytes():
    """The GIF decoder is a REAL LZW codec: gradient-palette images
    round-trip sequential AND interlaced (a deinterlace bug reorders
    rows of DIFFERENT colors here, so it cannot hide), the famous
    published 1x1-white-pixel GIF decodes byte-for-byte (parser, not
    an echo of our encoder), extension blocks are skipped, and
    truncated pixel data fails loudly."""
    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_media,
        encode_gif,
    )

    # LZW alone: repetitive stream forces code-width growth; 30k
    # random symbols overflow the 12-bit table and force a mid-stream
    # CLEAR/reset on the encoder side
    import random as _random

    rep = bytes([1, 2, 3, 0] * 8000)
    assert _lzw_decode(2, _lzw_encode(2, rep)) == rep
    rnd = _random.Random(1)
    big = bytes(rnd.randrange(4) for _ in range(30000))
    assert _lzw_decode(2, _lzw_encode(2, big)) == big

    pal = bytes([10, 20, 30, 200, 100, 50, 7, 8, 9, 0, 0, 0])
    for interlace in (False, True):
        for w, h in ((1, 1), (7, 11), (16, 3), (5, 17)):
            idx = bytes(
                (x * 3 + y * 5) % 4 for y in range(h) for x in range(w)
            )
            d = decode_media(encode_gif(w, h, idx, pal, interlace=interlace))
            assert d["fmt"] == "gif" and d["channels"] == 3
            assert (d["width"], d["height"]) == (w, h)
            assert d["values"] == b"".join(
                pal[3 * i : 3 * i + 3] for i in idx
            ), (w, h, interlace)

    # published minimal GIF (1x1, white, from the GIF89a literature):
    # GCE extension present -> the skip path runs on foreign bytes too
    tiny = bytes.fromhex(
        "474946383961010001008000"  # header + LSD (GCT, 2 entries)
        "00ffffff000000"            # bg/aspect + GCT white,black
        "2c000000000100010000"      # image descriptor 1x1
        "0202440100"                # min code 2, LZW data
        "3b"                        # trailer
    )
    d = decode_media(tiny)
    assert (d["width"], d["height"]) == (1, 1)
    assert d["values"] == b"\xff\xff\xff"  # palette entry 0 = white

    # truncated pixel data is a parse error, not silence
    trunc = encode_gif(4, 4, bytes(16), bytes([1, 2, 3] * 4))
    # chop the LZW sub-block content in half
    with _pytest.raises(ValueError):
        decode_media(trunc[:30] + b"\x01\x04\x00\x3b")


def test_jpeg_codec_exactness_bounded_error_and_honest_gaps():
    """Baseline JPEG (operators/jpeg.py) is a REAL lossy codec with
    three verifiable contracts: (1) uniform images are DC-only and
    survive encode->decode BIT-EXACTLY with dc_step=8 — the property
    the oracle entry rests on; (2) at unit quant steps, arbitrary
    content round-trips within a tight error bound (gray ±2, RGB ±8
    from YCbCr rounding) — a wrong Huffman/IDCT/zig-zag would blow
    these bounds up catastrophically, not marginally; (3) restart
    markers resynchronise (predictor resets included in the table
    histogram); and non-baseline streams raise by name."""
    import random as _random

    import numpy as np
    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from gmall_realtime_flink_spark.operators.multimodal import decode_media

    # (1) uniform exactness incl. non-multiple-of-8 dims and restarts
    for p in (0, 77, 128, 255):
        for w, h in ((1, 1), (8, 8), (13, 9), (24, 17)):
            d = decode_media(encode_jpeg(w, h, bytes([p]) * (w * h)))
            assert d["fmt"] == "jpeg" and d["channels"] == 1
            assert d["values"] == bytes([p]) * (w * h), (p, w, h)
    d = decode_jpeg(
        encode_jpeg(40, 16, bytes([99]) * 640, restart_interval=2)
    )
    assert d["values"] == bytes([99]) * 640

    # (2) bounded error on gradients and noise at unit quant
    rnd = _random.Random(3)
    for trial in range(4):
        w, h = rnd.randint(1, 33), rnd.randint(1, 33)
        ch = rnd.choice([1, 3])
        px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        d = decode_jpeg(
            encode_jpeg(w, h, px, channels=ch, dc_step=1, ac_step=1)
        )
        err = np.abs(
            np.frombuffer(d["values"], np.uint8).astype(int)
            - np.frombuffer(px, np.uint8).astype(int)
        )
        assert err.max() <= (2 if ch == 1 else 8), (w, h, ch, err.max())

    # (3) restart markers with varying content
    w, h = 40, 16  # 10 MCUs
    px = bytes((x * 3 + y * 9) % 256 for y in range(h) for x in range(w))
    d = decode_jpeg(
        encode_jpeg(w, h, px, dc_step=1, ac_step=1, restart_interval=3)
    )
    err = np.abs(
        np.frombuffer(d["values"], np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert err.max() <= 2

    # honest gaps: lossless (SOF3) named — progressive (SOF2) decodes
    # for REAL since r13 (test_jpeg_progressive_equals_sequential) —
    # and a truncated stream is loud
    good = bytearray(encode_jpeg(8, 8, bytes(64)))
    sof = good.find(b"\xff\xc0")
    lossless = bytes(good[:sof]) + b"\xff\xc3" + bytes(good[sof + 2 :])
    with _pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(lossless)
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(good[:20]))


def test_jpeg_progressive_equals_sequential():
    """Progressive JPEG (SOF2, T.81 Annex G) reorganises only the
    entropy layer, so the contract is exact: a progressive encode of
    the same quantized coefficients must decode BIT-IDENTICALLY to
    its sequential twin — across noise (AC refinement correction
    bits), smooth gradients (long EOB runs), flat fields (DC-only),
    and hard edges (ZRL + newly-significant mid-band), gray and RGB,
    odd dims. Uniform images stay DC-exact through the progressive
    path (the oracle lever)."""
    import random

    from gmall_realtime_flink_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rnd = random.Random(41)
    for trial in range(25):
        w, h = rnd.randint(1, 33), rnd.randint(1, 33)
        ch = rnd.choice([1, 3])
        kind = trial % 4
        if kind == 0:
            px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        elif kind == 1:
            px = bytes(
                ((x * 3 + y * 2) % 256)
                for y in range(h) for x in range(w * ch)
            )
        elif kind == 2:
            px = bytes([rnd.randrange(256)]) * (w * h * ch)
        else:
            px = bytes(
                (255 if x > w * ch // 2 else 0)
                for y in range(h) for x in range(w * ch)
            )
        seq = decode_jpeg(encode_jpeg(w, h, px, channels=ch))
        prog = decode_jpeg(
            encode_jpeg_progressive(w, h, px, channels=ch)
        )
        assert seq["values"] == prog["values"], (trial, w, h, ch, kind)

    for p in (32, 77, 126):
        d = decode_jpeg(encode_jpeg_progressive(6, 4, bytes([p]) * 24))
        assert d["values"] == bytes([p]) * 24, p


def test_codec_robustness_fixes_r13():
    """Round-13 ADVICE regressions: (1) T.81 B.1.1.2 — 0xFF fill
    bytes before a marker are legal padding, foreign encoders emit
    them; (2) Annex K — the all-ones codeword of the deepest length
    is reserved (Kraft sum < 1) so 1-bit padding never decodes as a
    real symbol; (3) a corrupt GIF whose LZW indices exceed the color
    table fails LOUDLY instead of yielding a short values buffer."""
    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.jpeg import (
        _huff_from_freq,
        decode_jpeg,
        encode_jpeg,
    )
    from gmall_realtime_flink_spark.operators.multimodal import (
        decode_media,
        encode_gif,
    )

    # (1) fill bytes: inject extra 0xFF padding before each marker of
    # a known-good stream; decode must be byte-identical
    px = bytes((x * 7 + y * 3) % 256 for y in range(16) for x in range(16))
    good = encode_jpeg(16, 16, px)
    ref = decode_jpeg(good)
    padded = bytearray(good[:2])  # SOI itself must open the stream
    i = 2
    while i < len(good) - 1:
        if good[i] == 0xFF and good[i + 1] not in (0x00,):  # real marker
            padded += b"\xff\xff\xff"  # three fill bytes
            padded += good[i : i + 2]
            i += 2
            if good[i - 1] == 0xDA:  # rest is entropy data + EOI
                padded += good[i:]
                break
        else:
            padded.append(good[i])
            i += 1
    got = decode_jpeg(bytes(padded))
    assert got["values"] == ref["values"]

    # (2) all-ones reservation: for any frequency histogram the
    # canonical table must be INCOMPLETE (Kraft sum < 1)
    for freq in (
        {0: 1},
        {0: 5, 1: 3},
        {i: 1 for i in range(8)},          # balanced -> complete tree
        {i: 2 ** i for i in range(10)},    # skewed depths
    ):
        counts, symbols = _huff_from_freq(freq)
        kraft = sum(
            c * 2.0 ** -(l + 1) for l, c in enumerate(counts)
        )
        assert kraft < 1.0, freq
        assert sorted(symbols) == sorted(freq)

    # (3) GIF out-of-range palette index: encode with an 8-entry
    # table, then patch the LSD to declare only 4 entries (strip 12
    # palette bytes) — the LZW stream still yields index 5, which
    # must now be a LOUD parse error, not a short values buffer
    pal8 = bytes([1, 2, 3] * 8)
    ok = bytearray(encode_gif(2, 2, bytes([0, 1, 5, 2]), pal8))
    ok[10] = 0x80 | 1  # GCT size field: 2^(1+1) = 4 entries
    bad = bytes(ok[:13]) + bytes(ok[13 : 13 + 12]) + bytes(ok[13 + 24 :])
    with _pytest.raises(ValueError, match="out of range"):
        decode_media(bad)


def test_png_codec_property_roundtrip():
    """Hypothesis: arbitrary small images round-trip for every color
    type — dims and content drawn randomly, encoder filter cycle
    exercised at every height."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gmall_realtime_flink_spark.operators.multimodal import (
        decode_media,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 12), st.integers(1, 12),
        st.sampled_from([0, 2, 6]), st.randoms(use_true_random=False),
    )
    def check(w, h, ctype, rnd):
        ch = {0: 1, 2: 3, 6: 4}[ctype]
        px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        d = decode_media(encode_png(w, h, px, color_type=ctype))
        assert d["values"] == px and d["channels"] == ch

    check()


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


def test_url_canonicalization_and_domain_budget(spark):
    """Canonicalization collapses cosmetic URL mess (case, www.,
    param order, utm_* params, fragments) onto one canonical key;
    domain_budget then dedups at URL grain and caps each registered
    domain, lowest ids winning deterministically."""
    from gmall_realtime_flink_spark.operators.urls import domain_budget

    rows = [
        # four fetches of the SAME page, all cosmetic variants
        (1, "HTTPS://WWW.Docs.SiteA.com/p/1?b=2&a=1#frag"),
        (2, "https://docs.sitea.com/p/1?a=1&b=2&utm_source=feed"),
        (3, "https://DOCS.sitea.COM/p/1?a=1&b=2"),
        (4, "https://www.docs.sitea.com/p/1#other?notaquery"),
        # distinct pages on the same domain (budget fodder)
        (5, "https://docs.sitea.com/p/2?a=1"),
        (6, "https://docs.sitea.com/p/3"),
        (7, "https://docs.sitea.com/p/4"),
        # another domain entirely
        (8, "http://siteb.org/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in domain_budget(df, budget=3).collect()}

    # 1-3 share one canonical URL; only the lowest id is canonical
    assert out[1].canonical_url == "https://docs.sitea.com/p/1?a=1&b=2"
    assert out[1].canonical_url == out[2].canonical_url == out[3].canonical_url
    assert out[1].is_canonical and not out[2].is_canonical
    assert not out[3].is_canonical
    # 4 drops the fragment (everything after #, even a fake ?)
    assert out[4].canonical_url == "https://docs.sitea.com/p/1"
    assert out[1].domain == "sitea.com" and out[8].domain == "siteb.org"
    # budget 3 on sitea.com: canonicals are 1, 4, 5, 6, 7 -> keep 1,4,5
    kept = sorted(i for i, r in out.items() if r.kept)
    assert kept == [1, 4, 5, 8]
    assert out[6].is_canonical and not out[6].kept


def test_mp4_container_walk_and_mjpeg_decode():
    """The MP4 decoder is a REAL ISO-BMFF parser: both mdat-first and
    moov-first layouts resolve the same frames through absolute stco
    offsets; per-frame values, variable stts durations and 2-chunk
    stsc all round-trip; fragmented files and real video codecs raise
    by name; corrupt sample tables fail loudly."""
    import struct

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.jpeg import encode_jpeg
    from gmall_realtime_flink_spark.operators.mp4 import (
        decode_mp4,
        encode_mp4_mjpeg,
    )
    from gmall_realtime_flink_spark.operators.multimodal import decode_media

    w, h = 6, 4
    vals = [40, 90, 70, 120]
    frames = [encode_jpeg(w, h, bytes([v]) * (w * h)) for v in vals]
    durs = [40, 41, 42, 40]
    for mdat_first in (True, False):
        mp4 = encode_mp4_mjpeg(frames, w, h, durs, mdat_first=mdat_first)
        d = decode_mp4(mp4)
        assert d["n_frames"] == 4 and (d["width"], d["height"]) == (w, h)
        assert d["durations"] == durs and d["timescale"] == 1000
        assert d["frame_values"] == [bytes([v]) * (w * h) for v in vals]
        # decode_media dispatches on the ftyp magic
        assert decode_media(mp4)["fmt"] == "mp4"

    mp4 = encode_mp4_mjpeg(frames, w, h, durs)

    # real-codec 4cc raises BY NAME (container walk still succeeded)
    avc = mp4.replace(b"jpeg", b"avc1", 1)
    with _pytest.raises(NotImplementedError, match="avc1"):
        decode_mp4(avc)

    # fragmented flag: a top-level moof is an honest named gap
    moof = mp4 + struct.pack(">I", 8) + b"moof"
    with _pytest.raises(NotImplementedError, match="moof"):
        decode_mp4(moof)

    # corrupt stsz: inflate the first sample size -> frame overruns /
    # misparses; either way the decode must be LOUD, not wrong
    idx = mp4.index(b"stsz")
    bad = bytearray(mp4)
    struct.pack_into(">I", bad, idx + 12 + 4, len(frames[0]) + 9999)
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_mp4(bytes(bad))

    # truncated file
    with _pytest.raises(ValueError):
        decode_mp4(mp4[: len(mp4) // 2])


def test_png_adam7_and_16bit_roundtrip():
    """Round-13 closes the last PNG gaps: Adam7 interlace (seven
    independently filtered sub-images scattered back to the grid —
    random content means a pass-geometry or scatter bug lands wrong
    pixels) and 16-bit depth (big-endian samples, bpp-aware
    unfiltering, int-list output like WAV). Invalid combos still
    raise: 16-bit palette is illegal per spec."""
    import random
    import struct

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.multimodal import (
        decode_media,
        encode_png,
    )

    rnd = random.Random(23)
    for ctype in (0, 2, 6):
        ch = {0: 1, 2: 3, 6: 4}[ctype]
        for w, h in ((1, 1), (7, 5), (8, 8), (13, 11), (3, 17)):
            px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
            d = decode_media(
                encode_png(w, h, px, color_type=ctype, interlace=True)
            )
            assert d["values"] == px, (ctype, w, h)

    pal = bytes(rnd.randrange(256) for _ in range(12))
    idx = bytes(rnd.randrange(4) for _ in range(9 * 6))
    d = decode_media(
        encode_png(9, 6, idx, color_type=3, palette=pal, interlace=True)
    )
    assert d["values"] == b"".join(pal[3 * i : 3 * i + 3] for i in idx)

    for ctype in (0, 2):
        ch = {0: 1, 2: 3}[ctype]
        for inter in (False, True):
            w, h = 6, 5
            samples = [rnd.randrange(65536) for _ in range(w * h * ch)]
            px = struct.pack(f">{len(samples)}H", *samples)
            d = decode_media(
                encode_png(
                    w, h, px, color_type=ctype, depth=16, interlace=inter
                )
            )
            assert d["values"] == samples and d["channels"] == ch

    with _pytest.raises((NotImplementedError, AssertionError)):
        encode_png(2, 2, bytes(8), color_type=3, palette=pal, depth=16)


def test_mp3_frame_walk_and_failure_modes():
    """The MP3 header walk is REAL ISO 11172-3 arithmetic: ID3v2
    syncsafe skip, VBR per-frame bitrate re-read, frameLen =
    144*bitrate/rate + padding; corrupt structure fails loudly and
    codec gaps raise by name."""
    import struct as _s  # noqa: F401

    from gmall_realtime_flink_spark.operators.multimodal import (
        _MP3_BITRATES,
        encode_mp3_frames,
        parse_mp3,
    )

    import pytest as _pytest

    b = encode_mp3_frames(6, "a winnowed document body")  # even: ID3
    d = parse_mp3(b)
    assert b[:3] == b"ID3" and d["fmt"] == "mp3"
    assert d["total_bytes"] == len(b)
    assert d["duration_us"] == d["n_frames"] * (
        1152 * 1_000_000 // d["sample_rate"]
    )

    # hand-built 2-frame VBR stream: 64 kbps then 160 kbps @ 32000
    def frame(br_idx, sr_idx, pad):
        kbps = _MP3_BITRATES[br_idx - 1]
        rate = (44100, 48000, 32000)[sr_idx]
        flen = 144000 * kbps // rate + pad
        return bytes(
            [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (pad << 1), 0]
        ) + b"\x00" * (flen - 4)

    vbr = frame(5, 2, 0) + frame(10, 2, 1)
    d = parse_mp3(vbr)
    assert d["n_frames"] == 2
    assert d["bitrate_kbps_sum"] == 64 + 160
    assert d["sample_rate"] == 32000

    with _pytest.raises(ValueError, match="lost frame sync"):
        parse_mp3(frame(5, 2, 0) + b"\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="truncated frame"):
        parse_mp3(frame(5, 2, 0)[:-1])
    with _pytest.raises(ValueError, match="forbidden bitrate"):
        parse_mp3(bytes([0xFF, 0xFB, 0xF0, 0]) + b"\x00" * 100)
    with _pytest.raises(ValueError, match="reserved sample-rate"):
        parse_mp3(bytes([0xFF, 0xFB, (5 << 4) | 0x0C, 0]) + b"\x00" * 400)
    with _pytest.raises(NotImplementedError, match="free-format"):
        parse_mp3(bytes([0xFF, 0xFB, 0x08, 0]) + b"\x00" * 100)
    # MPEG-2 (version bits 10) is a named gap, not a misparse
    with _pytest.raises(NotImplementedError, match="MPEG-1"):
        parse_mp3(bytes([0xFF, 0xF3, 0x52, 0]) + b"\x00" * 400)
    with _pytest.raises(ValueError, match="syncsafe"):
        parse_mp3(b"ID3\x03\x00\x00\x00\x00\x00\x80" + b"\x00" * 40)


def test_winnow_fingerprints_guarantee_and_tie_rule(spark):
    """Winnowing invariants (Schleimer et al. 2003): shared
    substrings >= k+w-1 chars share a fingerprint; identical docs
    have identical digests; the rightmost-min tie rule picks the
    LATEST position among equal window hashes."""
    from gmall_realtime_flink_spark.operators.textstats import (
        winnow_fingerprints,
    )

    common = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, common + " alpha beta gamma"),
        (2, "unrelated prefix text " + common),
        (3, common + " alpha beta gamma"),
        (4, "zzzzzzzzzzzzzzzzzzzzzzzz"),  # all k-grams identical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in winnow_fingerprints(df).collect()
    }
    assert out[1]["fp_md5"] == out[3]["fp_md5"]  # deterministic
    assert out[1]["n_fingerprints"] > 0
    # doc 4: every gram hash equal -> rightmost rule selects a NEW
    # position every window -> one fingerprint per window position
    n_grams4 = len(rows[3][1]) - 5
    assert out[4]["n_fingerprints"] == n_grams4 - 3


def test_dsir_weights_target_leaning(spark):
    """DSIR sanity: documents written in the target subset's
    vocabulary get positive weight; off-distribution docs negative."""
    from gmall_realtime_flink_spark.operators.textstats import dsir_weights

    # target docs (id % 7 == 0) use vocab A; others vocab B, except
    # doc 15 which is written in vocab A -> should be selected
    rows = (
        [(i * 7, "apple banana cherry damson elder fig " * 3)
         for i in range(4)]
        + [(i, "xylo yurt zebra quill umbra vortex " * 3)
           for i in (1, 2, 3, 4, 5)]
        + [(15, "apple banana cherry damson elder fig " * 3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dsir_weights(df).collect()}
    assert out[15]["selected"] and out[15]["weight"] > 0
    assert not out[1]["selected"] and out[1]["weight"] < 0
    assert out[0]["selected"]


def test_bm25_scores_rank_term_frequency(spark):
    """BM25 sanity: a doc saturated with query terms outranks a doc
    with one hit; rank is dense 1..k with deterministic tie-break."""
    from gmall_realtime_flink_spark.operators.textstats import bm25_topk

    rows = [
        (1, "hash join merge hash join merge hash join"),
        (2, "hash lineage unrelated content words here"),
        (3, "completely different text with no query words"),
        (4, "customer order query customer order"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df).collect()
    q1 = {r["doc_id"]: r for r in out if r["qid"] == "q1"}
    assert q1[1]["rk"] == 1 and q1[1]["score"] > q1[2]["score"]
    assert 3 not in q1  # no hit, no candidate
    q2 = [r for r in out if r["qid"] == "q2"]
    assert q2[0]["doc_id"] == 4 and q2[0]["rk"] == 1


def test_ima_adpcm_codec_roundtrip_and_failure_modes():
    """The IMA ADPCM decoder is the real 1992 state machine: known
    nibble sequences reconstruct through the step table with
    clamping; each block restarts from its own header; corrupt
    structure fails loudly and non-mono raises by name."""
    import struct as _s

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.multimodal import (
        _IMA_STEPS,
        decode_adpcm_wav,
        decode_ima_adpcm_blocks,
        decode_media,
        encode_ima_adpcm_wav,
    )

    # hand-run the spec: pred=0, idx=0 (step 7), nibble 3 ->
    # delta = 7>>3 + 7>>2 + 7>>1 = 0+1+3 = 4, idx += -1 -> clamp 0
    vals = decode_ima_adpcm_blocks(_s.pack("<hBB", 0, 0, 0) + b"\x03", 5)
    assert vals == [0, 4, 4]  # second nibble 0: delta = 7>>3 = 0
    # nibble 0xB = 8|3: sign bit -> subtract the same delta
    vals = decode_ima_adpcm_blocks(_s.pack("<hBB", 100, 0, 0) + b"\xbb", 5)
    assert vals[1] == 96
    # sample clamp at the top step: nibble 7 at step 32767 ->
    # delta = 4095+8191+16383+32767 = 61436 -> clamps to int16 max
    vals = decode_ima_adpcm_blocks(
        _s.pack("<hBB", 0, 88, 0) + b"\x77", 5
    )
    assert _IMA_STEPS[88] == 32767 and vals[1] == 32767 == vals[2]

    # block restart: decoding two blocks equals decoding each alone
    b1 = _s.pack("<hBB", 500, 10, 0) + bytes([0x21, 0x43, 0x65, 0x87])
    b2 = _s.pack("<hBB", -800, 40, 0) + bytes([0x0F, 0x2D, 0x4B, 0x69])
    assert decode_ima_adpcm_blocks(b1 + b2, 8) == (
        decode_ima_adpcm_blocks(b1, 8) + decode_ima_adpcm_blocks(b2, 8)
    )

    # staged WAV round-trips through decode_media dispatch
    wav = encode_ima_adpcm_wav(7, "adpcm staging text")
    d = decode_media(wav)
    assert d["fmt"] == "wav-adpcm" and len(d["values"]) % 17 == 0

    with _pytest.raises(ValueError, match="step index"):
        decode_ima_adpcm_blocks(_s.pack("<hBB", 0, 90, 0) + b"\x00", 5)
    with _pytest.raises(ValueError, match="truncated block"):
        decode_ima_adpcm_blocks(b"\x00\x01", 5)
    with _pytest.raises(ValueError, match="blockAlign"):
        decode_ima_adpcm_blocks(b"\x00\x00\x00\x00", 4)
    # stereo ADPCM is a named gap
    stereo = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    _s.pack_into("<H", stereo, fmt_off + 2, 2)
    with _pytest.raises(NotImplementedError, match="mono"):
        decode_adpcm_wav(bytes(stereo))
    # fact count beyond decoded data is corrupt, not silently padded
    fact_off = wav.index(b"fact") + 8
    bad = bytearray(wav)
    _s.pack_into("<I", bad, fact_off, 10_000)
    with _pytest.raises(ValueError, match="fact count"):
        decode_adpcm_wav(bytes(bad))


def test_flac_codec_roundtrip_crc_and_failure_modes():
    """The FLAC decoder is a real spec implementation: lossless
    round-trip across every staged subframe type, CRC-8/CRC-16 and
    STREAMINFO-MD5 corruption all fail loudly, LPC/stereo raise by
    name."""
    import struct as _s

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.flac import (
        crc8,
        crc16,
        decode_flac,
        encode_flac,
    )
    from gmall_realtime_flink_spark.operators.multimodal import decode_media

    # published CRC check values ("123456789" in ASCII):
    # CRC-8/SMBUS (poly 0x07, init 0) = 0xF4;
    # CRC-16/BUSS aka ARC without reflection (0x8005, init 0) = 0xFEE8
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8

    samples = [((37 * 3 + i * 7) % 256 - 128) * 256 for i in range(40)]
    for seed in range(7):  # VERBATIM + FIXED 0..4 + LPC lead frame
        b = encode_flac(12000, samples, type_seed=seed)
        d = decode_flac(b)
        assert d["values"] == samples and d["sample_rate"] == 12000
    assert decode_media(b)["fmt"] == "flac"  # magic dispatch

    # CONSTANT subframe via the decoder (hand-built not needed:
    # all-equal block would need a custom encoder path; instead
    # corrupt integrity levers on a good stream)
    good = bytearray(encode_flac(8000, samples, type_seed=2))
    bad = bytearray(good)
    bad[-3] ^= 0x01  # flip a bit inside the last frame body
    with _pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(bad))
    # corrupt the stored MD5 -> decode succeeds bitwise but the
    # stream-level integrity check trips
    bad = bytearray(good)
    bad[8 + 18] ^= 0xFF  # STREAMINFO md5 field (4 magic + 4 hdr + 18)
    with _pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(bad))
    # truncated / foreign bytes
    with _pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"ZZZZ")
    # a header CRC-8 flip is caught before any subframe decode
    # frame starts right after 4 + (4+34) metadata bytes
    fstart = 4 + 4 + 34
    bad = bytearray(good)
    bad[fstart + 2] ^= 0x10  # block-size/sample-rate nibble byte
    with _pytest.raises(ValueError, match="CRC-8|sync|reserved"):
        decode_flac(bytes(bad))

    # LPC decodes for real now (seed 6 stages an order-2 quantized
    # predictor); a NEGATIVE LPC shift is rejected, not misapplied —
    # craft one by re-encoding with a patched writer is overkill;
    # instead corrupt the shift field of a staged LPC frame and
    # expect SOME loud failure (shift/CRC/MD5 — never silence)
    lpc = bytearray(encode_flac(8000, samples, type_seed=6))
    lpc[fstart + 6 + 5] ^= 0x40
    with _pytest.raises(ValueError):
        decode_flac(bytes(lpc))


def test_gopher_rules_flags(spark):
    """Each Gopher rule trips on its own violation; a clean doc
    passes all seven."""
    from gmall_realtime_flink_spark.operators.textstats import gopher_rules

    good = ("the data and model be trained to convergence of that "
            "corpus have runs with careful filtering applied " * 4)
    rows = [
        (1, good),
        (2, "short text"),  # fails word count
        (3, good + " ##### ##### ##### ##### ##### ##### #####"),
        (4, "\n".join("- bullet line" for _ in range(10))),
        (5, "alpha beta gamma delta epsilon zeta " * 12),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["r_wordcount"] and not out[2]["keep"]
    assert not out[3]["r_symbols"]
    assert not out[4]["r_bullets"]
    assert not out[5]["r_stop"]


def test_html_extraction_rules_and_entities():
    """The HTML block extractor is a real parse: entities round-trip,
    link density and length rules classify correctly, the inline-link
    paragraph is kept with its link text included."""
    from gmall_realtime_flink_spark.operators.html import (
        build_page,
        classify_blocks,
        extract_blocks,
    )

    page = (
        "<html><body>"
        '<nav><a href="/">home</a><a href="/x">about</a></nav>'
        "<p>this paragraph is long enough to keep and has no links</p>"
        '<p><a href="#">anchor</a> word word word word word word</p>'
        "<p>tiny</p>"
        '<p><a>everything inside this block is one giant link text</a></p>'
        "<p>5 &lt; 7 &amp; 9 &gt; 3 entities decode back to chars</p>"
        "</body></html>"
    )
    blocks = extract_blocks(page)
    kept = classify_blocks(blocks)
    assert blocks[0] == ("homeabout", 9)  # nav: all link chars
    assert "this paragraph is long enough to keep and has no links" in kept
    assert any(k.startswith("anchor word") for k in kept)  # sparse link
    assert "tiny" not in kept  # too short
    assert not any("giant link" in k for k in kept)  # density 1
    assert "5 < 7 & 9 > 3 entities decode back to chars" in kept

    # staged page: generator/extractor round-trip preserves words
    text = "alpha <b>eta & gamma\tdelta epsilon zeta eta theta " * 3
    blocks = extract_blocks(build_page(4, text))
    joined = " ".join(t for t, _ in blocks[1:-2])  # content paras
    for w in ("alpha", "<b>eta", "&", "gamma"):
        assert w in joined


def test_adpcm_batched_kernel_matches_scalar(spark):
    """The cross-block vectorised ADPCM kernel is bit-identical to
    the scalar reference decoder — locally over varied payloads, and
    through Spark as the full audio_features twin."""
    import numpy as np

    from gmall_realtime_flink_spark.operators.multimodal import (
        attach_adpcm_payload,
        audio_features,
        audio_features_adpcm_batched,
        decode_adpcm_wav,
        decode_ima_adpcm_batched,
        encode_ima_adpcm_wav,
    )

    payloads = [
        encode_ima_adpcm_wav(i, f"doc {i} body {'y' * (i % 23)}")
        for i in range(60)
    ]
    for pl, b in zip(payloads, decode_ima_adpcm_batched(payloads)):
        s = np.asarray(decode_adpcm_wav(pl)["values"], dtype=np.int64)
        assert b["sum_sq"] == int(np.dot(s, s))
        assert b["zero_crossings"] == int(
            np.count_nonzero(s[:-1] * s[1:] < 0)
        )

    rows = [(i, f"spark doc {i} {'z' * (i % 17)}") for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    staged = attach_adpcm_payload(df)
    a = {r["doc_id"]: r.asDict() for r in audio_features(staged).collect()}
    b = {
        r["doc_id"]: r.asDict()
        for r in audio_features_adpcm_batched(staged).collect()
    }
    assert a == b and a[99]["sum_sq"] is None


def test_flac_stereo_decorrelation_roundtrip():
    """All four stereo channel assignments reconstruct losslessly,
    including mid/side parity recovery; channel-count disagreement
    between frame and STREAMINFO fails loudly."""
    import random

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.flac import (
        decode_flac,
        encode_flac_stereo,
    )

    rng = random.Random(23)
    for n in (1, 16, 33):
        for seed in range(4):
            lch = [rng.randint(-32768, 32767) for _ in range(n)]
            rch = [rng.randint(-32768, 32767) for _ in range(n)]
            d = decode_flac(encode_flac_stereo(32000, lch, rch, seed))
            assert d["channels"] == 2
            assert d["values"][0::2] == lch and d["values"][1::2] == rch
    # odd L+R exercises the mid/side parity bit specifically
    d = decode_flac(encode_flac_stereo(8000, [7], [4], 2))  # mid/side
    assert d["values"] == [7, 4]
    # a mono frame inside a stereo stream is a loud structure error
    b = bytearray(encode_flac_stereo(8000, [1] * 16, [2] * 16, 3))
    fstart = 4 + 4 + 34
    b[fstart + 3] = (b[fstart + 3] & 0x0F) | 0x00  # assignment -> mono
    with _pytest.raises(ValueError):
        decode_flac(bytes(b))


def test_flac_fast_kernels_match_bitwise_reference():
    """The table-driven CRCs and the span-slicing bit reader must be
    bit-identical to the per-bit spec definitions on random data,
    including mid-byte starts, unary runs spanning zero bytes, and
    the exhausted / runaway failure modes."""
    import random as _random

    import pytest as _pytest

    from gmall_realtime_flink_spark.operators.flac import (
        _BitReader,
        crc8,
        crc16,
    )

    def ref_crc8(data):
        crc = 0
        for byte in data:
            crc ^= byte
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x07) & 0xFF
                    if crc & 0x80
                    else (crc << 1) & 0xFF
                )
        return crc

    def ref_crc16(data):
        crc = 0
        for byte in data:
            crc ^= byte << 8
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x8005) & 0xFFFF
                    if crc & 0x8000
                    else (crc << 1) & 0xFFFF
                )
        return crc

    rng = _random.Random(42)
    for n in (0, 1, 2, 7, 64, 513):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert crc8(data) == ref_crc8(data)
        assert crc16(data) == ref_crc16(data)

    class RefReader:
        def __init__(self, data, pos=0):
            self.data, self.byte, self.bit = data, pos, 0

        def read(self, bits):
            v = 0
            for _ in range(bits):
                if self.byte >= len(self.data):
                    raise ValueError("exhausted")
                v = (v << 1) | ((self.data[self.byte] >> (7 - self.bit)) & 1)
                self.bit += 1
                if self.bit == 8:
                    self.bit, self.byte = 0, self.byte + 1
            return v

        def read_unary(self):
            q = 0
            while self.read(1) == 0:
                q += 1
            return q

    for trial in range(200):
        data = bytes(
            rng.choice((0, 0, rng.randrange(256))) for _ in range(40)
        )
        fast, ref = _BitReader(data), RefReader(data)
        ops = []
        try:
            while True:
                if rng.random() < 0.3:
                    v = ref.read_unary()
                    ops.append(("unary", v, ref.byte, ref.bit))
                else:
                    w = rng.randrange(1, 20)
                    v = ref.read(w)
                    ops.append((w, v, ref.byte, ref.bit))
        except ValueError:
            ops.append(("end", None, None, None))
        for op, want, rb, rbit in ops:
            if op == "end":
                with _pytest.raises(ValueError):
                    while True:
                        fast.read(8)
                break
            got = fast.read_unary() if op == "unary" else fast.read(op)
            assert got == want
            assert (fast.byte, fast.bit) == (rb, rbit)

    # runaway unary: >2^20 zero bits then a terminator still raises
    big = bytes(1 << 18) + b"\x01"
    with _pytest.raises(ValueError, match="runaway"):
        _BitReader(big).read_unary()


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
