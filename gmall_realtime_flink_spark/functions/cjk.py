"""X11: dictionary-grade CJK segmentation (forward maximum matching).

The reference tokenizes Chinese search keywords with the IK analyzer in
smart mode (RT/utils/KeywordUtil.java:17-41): a dictionary segmenter
that emits multi-character words and degrades to single characters for
out-of-dictionary text. jieba's core idea is the same — match the
longest dictionary word at each position.

Re-expression here: forward maximum matching compiled to a SINGLE
regular expression — an alternation of the dictionary sorted by length
descending, followed by an ASCII word-run branch and a CJK unigram
fallback. Both Java's regex engine (Spark, `regexp_extract_all`) and
RE2 (DuckDB, default leftmost-first semantics) try alternatives in
listed order at each position, so "longest dictionary word first" IS
greedy longest-match — the whole segmenter runs JVM-side inside
whole-stage codegen (no Python, no UDF), and the oracle SQL is the
identical pattern transliterated. Cross-engine equality on real
Chinese text is pinned by tests/test_functions.py.

The vendored dictionary is a small public-knowledge common-word list
(general + e-commerce vocabulary, the reference's domain). Real
deployments would load a full frequency dictionary the same way — the
pattern construction and the plan shape don't change with dictionary
size; at ~100k words the alternation should be built as a trie-regex
(prefix-factored), which is a pure string transform of the same input.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Common-word dictionary (public vocabulary; 2-4 char words, general +
# e-commerce domain). Order in this tuple is irrelevant — the pattern
# builder sorts by (length desc, codepoint) for deterministic
# longest-first alternation.
CJK_WORDS: tuple[str, ...] = (
    # e-commerce / the reference's domain
    "苹果手机", "小米手机", "华为手机", "大数据", "关键词", "购物车",
    "二维码", "手机", "电视", "电脑", "平板", "耳机", "口红", "图书",
    "电子", "商品", "购物", "订单", "支付", "下单", "退款", "退货",
    "价格", "优惠", "折扣", "活动", "品牌", "新品", "推荐", "评论",
    "评价", "收藏", "加购", "曝光", "点击", "搜索", "浏览", "访问",
    "跳出", "会员", "用户", "商城", "商家", "店铺", "仓库", "物流",
    "快递", "配送", "服务", "质量", "正品", "销售", "销量", "库存",
    "渠道", "版本", "地区", "流量", "平台", "系统", "数据", "实时",
    "计算", "分析", "报表", "统计", "指标", "维度", "性能",
    # general vocabulary
    "中国", "北京", "上海", "广州", "深圳", "城市", "今天", "明天",
    "昨天", "时间", "小时", "分钟", "工作", "学习", "生活", "朋友",
    "公司", "学校", "老师", "学生", "孩子", "父母", "喜欢", "需要",
    "可以", "没有", "知道", "觉得", "现在", "已经", "非常", "因为",
    "所以", "但是", "如果", "我们", "你们", "他们", "自己", "什么",
    "怎么", "为什么", "这个", "那个", "一起", "开始", "结束", "问题",
    "方法", "东西", "地方", "世界", "国家", "经济", "发展", "技术",
    "科技", "互联网", "人工智能", "机器学习",
)

# CJK unified ideographs range used by the unigram fallback and the
# existing tokenize_mixed (U+4E00..U+9FFF)
_UNIGRAM = "[一-鿿]"
_ASCII_RUN = "[a-z]+"


def dict_pattern(words: tuple[str, ...] = CJK_WORDS) -> str:
    """The forward-maximum-matching alternation: dictionary words
    longest-first, then ASCII runs, then the CJK unigram fallback.
    Deterministic (sorted) and engine-portable (no metacharacters —
    asserted, so a dictionary edit can't silently change semantics)."""
    ordered = sorted(set(words), key=lambda w: (-len(w), w))
    for w in ordered:
        assert re.escape(w) == w, f"dictionary word needs escaping: {w!r}"
    return "|".join([*ordered, _ASCII_RUN, _UNIGRAM])


def _emit_trie(node: dict) -> str:
    """Serialize one trie node to a regex fragment. Children (longer
    continuations) are emitted INSIDE the group and the terminal as a
    greedy `?` on it — greedy backtracking prefers the deepest path,
    which is exactly forward maximum matching. Child alternatives have
    disjoint first characters, so their order is semantics-free
    (sorted for determinism)."""
    pieces = [ch + _emit_trie(child) for ch, child in sorted(node.items()) if ch != ""]
    if not pieces:
        return ""
    alt = "|".join(pieces)
    if "" in node:  # terminal: the continuation is optional (greedy)
        return f"(?:{alt})?"
    return pieces[0] if len(pieces) == 1 else f"(?:{alt})"


def trie_pattern(words: tuple[str, ...] = CJK_WORDS) -> str:
    """Prefix-factored (trie) form of `dict_pattern` — equivalent
    matches, O(total trie edges) pattern instead of O(total word
    chars), and no per-position scan over every alternative: at ~100k
    words the flat alternation is quadratic-ish to match, the trie is
    one char-indexed branch per position. Greedy `(?:…)?` suffixes
    preserve longest-first preference under both Java regex
    (backtracking) and RE2 (leftmost-first NFA simulation), so it's a
    drop-in for either engine. Equality with the flat form is pinned
    by a hypothesis property test and by the driver's oracle gate
    (Spark runs the trie, the DuckDB oracle runs the flat form)."""
    trie: dict = {}
    for w in sorted(set(words)):
        assert re.escape(w) == w, f"dictionary word needs escaping: {w!r}"
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # terminal marker
    pieces = [ch + _emit_trie(child) for ch, child in sorted(trie.items())]
    return "|".join([*pieces, _ASCII_RUN, _UNIGRAM])


def synthetic_dictionary(n: int, seed: int = 11) -> tuple[str, ...]:
    """A deterministic n-word CJK dictionary for scale testing: unique
    2-4 char words over a 2000-character pool spanning the CJK unified
    block — the shape (length mix, shared prefixes) of a real ~100k
    frequency dictionary without shipping one. Used by the 50k-word
    flat==trie property test and the tokenizer throughput benchmark
    (tools/bench_cjk.py); production would pass a real dictionary to
    the same pattern builders."""
    import random

    rng = random.Random(seed)
    pool = [chr(0x4E00 + 10 * i) for i in range(2000)]  # U+4E00..U+9C16, inside the CJK block
    words: set[str] = set(CJK_WORDS)
    while len(words) < n:
        words.add(
            "".join(rng.choice(pool) for _ in range(rng.randint(2, 4)))
        )
    # Exactly n words: the grow loop adds one word at a time, so the
    # only over-shoot is n < len(CJK_WORDS), where the seed set alone
    # exceeds n — trim deterministically (sorted order) in that case.
    out = tuple(sorted(words))[:n]
    assert len(out) == n
    return out


def tokenize_mixed(col: Column) -> Column:
    """X11 without a dictionary: ASCII word runs plus single CJK
    characters — what IK smart mode degrades to for out-of-dictionary
    text (RT/utils/KeywordUtil.java:17-41). Deterministic and
    dependency-free; `tokenize_cjk_dict` is the dictionary-grade form."""
    return F.regexp_extract_all(
        F.lower(col), F.lit(f"{_ASCII_RUN}|{_UNIGRAM}"), 0
    )


def tokenize_cjk_dict(col: Column) -> Column:
    """Segment mixed Chinese/ASCII text: longest dictionary word at
    each position, ASCII letter runs, unigrams for OOV CJK. JVM-side
    (`regexp_extract_all`), codegen-friendly, zero Python. Uses the
    trie-factored pattern (the 100k-word scale form); the oracle SQL
    keeps the flat alternation, so the driver's hash gate doubles as a
    cross-form equivalence proof."""
    return F.regexp_extract_all(F.lower(col), F.lit(trie_pattern()), 0)
