"""Fuzzy-dedup operators for large-scale text corpora: MinHash-LSH and
n-gram Jaccard (the exact-dedup and fingerprint operators live in
plans/datapipe.py).

Beyond-reference components (the reference dedups only visitors, ST2);
these are the corpus-dedup primitives a training-data pipeline needs.

Cross-engine determinism (the DuckDB oracle must reproduce every hash
bit-for-bit): all oracle-gated hashing is md5 over strings — identical
lowercase hex in Spark and DuckDB — and each minhash is the
*lexicographic min* of md5 hex strings, so no engine-specific 64-bit
integer hash is ever involved. For production runs that don't need a
cross-engine oracle, `hash_impl="xxhash64"` switches the whole stack
to Spark's built-in 64-bit xxHash (numeric min, no hex encode) —
measured ~2× cheaper on the signature pass, same banding topology,
still deterministic within Spark.

Scale design (100 TB):
- shingling + signatures are narrow per-row transforms (JVM codegen,
  no Python);
- LSH candidates come from a self-equi-join on (band_index, band_hash)
  — ONE shuffle keyed by a uniform 128-bit hash, never an all-pairs
  product. Each bucket holds only colliding docs; the join output is
  |candidate pairs|, which banding keeps near-linear;
- exact Jaccard verification runs only on candidates (joins back to
  the shingle sets by doc id — two broadcast-or-shuffle hash joins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.operators.lineage import (
    cut_lineage,
    cut_lineage_eager,
)

NUM_HASHES = 8
ROWS_PER_BAND = 2  # 8 hashes -> 4 bands of 2


def tokenize(col: Column) -> Column:
    """Lowercase word tokens (ASCII letters; the X11 tokenizer surface)."""
    return F.filter(F.split(F.lower(col), "[^a-z]+"), lambda x: F.length(x) > 0)


def shingles(toks_col: str, n: int = 2) -> Column:
    """Word n-gram shingles via a 1-based sequence/element_at transform
    (the same 1-based indexing DuckDB lists use, so the oracle SQL is a
    transliteration, not a reimplementation).

    TOTAL on any array size: guarded by a CASE so a sub-n-token array
    yields [] instead of evaluating `sequence(1, size-n+1)` — which
    for size < n produces a DESCENDING sequence ([1,0], not []) whose
    element_at(toks, 0) throws under ANSI. Callers all filter short
    docs first, but optimizer rules (InferFiltersFromGenerate pushing
    `size(shingles(...)) > 0` below the guard filter, then codegen
    subexpression elimination hoisting the transform above the
    short-circuit) can evaluate the expression on unfiltered rows in
    a DEFAULT session — correctness must not depend on the engine
    session's excluded-rule list. CASE branches stay lazily evaluated
    and are never hoisted unconditionally."""
    parts = ", ".join(f"element_at({toks_col}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {n} THEN "
        f"transform(sequence(1, size({toks_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE cast(array() as array<string>) END"
    )


def minhash_cols(
    sh_col: str, num_hashes: int = NUM_HASHES, hash_impl: str = "md5"
) -> list[Column]:
    """MinHash signature: h_i = min over shingles of hash('<i>|' || s).

    hash_impl="md5" (default): lexicographic min of md5 hex strings —
    the only hash Spark and DuckDB produce bit-identically, so every
    oracle-gated query uses it. hash_impl="xxhash64": numeric min of
    Spark's built-in 64-bit xxHash — ~2× cheaper (no hex encode, 8-byte
    compares, codegen-friendly) and the production fast path when
    cross-engine reproducibility isn't required. Same banding topology
    either way; exact-duplicate texts collide in every band under ANY
    hash (identical shingles → identical signature)."""
    if hash_impl == "xxhash64":
        return [
            F.expr(
                f"array_min(transform({sh_col}, "
                f"s -> xxhash64(concat('{i}|', s))))"
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return [
        F.expr(
            f"array_min(transform({sh_col}, s -> md5(concat('{i}|', s))))"
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]


def band_cols(
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    hash_impl: str = "md5",
) -> list[tuple[int, Column]]:
    """LSH bands: band_j = hash(concat of its row hashes)."""
    out = []
    for j in range(num_hashes // rows_per_band):
        cols = [f"h{j * rows_per_band + r}" for r in range(rows_per_band)]
        if hash_impl == "xxhash64":
            out.append((j, F.xxhash64(*[F.col(c) for c in cols])))
        else:
            out.append((j, F.md5(F.concat(*[F.col(c) for c in cols]))))
    return out


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = NUM_HASHES,
    hash_impl: str = "md5",
) -> DataFrame:
    """(id, h0..h{k-1}) signatures; docs with < n+1 tokens are dropped
    (too short to shingle — at corpus scale these go to exact dedup).

    The narrow (id, text) input is conditionally round-robin spread
    first (operators/spread.py, r14): the tokenize + shingle +
    8×md5-min fold is the dominant per-row cost of the whole LSH
    family, and at the bench SFs it otherwise runs inside the ONE
    scan task of the single-row-group docs parquet (guide §2.5);
    skipped whenever the scan parallelizes by itself."""
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    toks = spread_to_cores(docs.select(id_col, F.col(text_col))).select(
        id_col, tokenize(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n + 1)
    sh = toks.select(id_col, shingles("toks", n).alias("sh"))
    return sh.select(id_col, *minhash_cols("sh", num_hashes, hash_impl))


def _band_rows(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    rows_per_band: int,
    hash_impl: str,
) -> DataFrame:
    """Unpivot a signature frame to (id, band, band_hash) rows via
    stack() — the shared first half of every LSH banding join."""
    pairs = band_cols(num_hashes, rows_per_band, hash_impl)
    stack_expr = ", ".join(f"{j}, b{j}" for j, _ in pairs)
    return signatures.select(
        id_col, *[c.alias(f"b{j}") for j, c in pairs]
    ).selectExpr(
        id_col,
        f"stack({len(pairs)}, {stack_expr}) as (band, band_hash)",
    )


def lsh_candidates_cross(
    sig_new: DataFrame,
    sig_old: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    hash_impl: str = "md5",
) -> DataFrame:
    """Banded candidate pairs ACROSS two frames (new_id, old_id) — the
    incremental-ingest form of `lsh_candidates`: a new batch is banded
    against the existing corpus only, never against itself and never
    the corpus against itself. Pair volume is |new ⋈ corpus bucket
    collisions|, proportional to the ingest size, not the corpus.

    At 100 TB the corpus-side band rows are a persisted index (4 rows
    per doc, band-hash partitioned); a daily batch probes it with one
    shuffle-on-band-hash join — the corpus is never re-signed. Here
    both sides are computed from documents; the plan still joins
    |new bands| against |corpus bands| on the uniform 128-bit key.
    """
    a = _band_rows(sig_new, id_col, num_hashes, rows_per_band, hash_impl)
    b = _band_rows(sig_old, id_col, num_hashes, rows_per_band, hash_impl)
    return (
        a.select(
            F.col(id_col).alias("new_id"), "band", "band_hash"
        )
        .join(
            b.select(
                F.col(id_col).alias("old_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        # guard against overlapping frames (at-least-once redelivery
        # of an already-admitted doc): a doc's own bands collide in
        # every band, and a (x, x) pair with J = 1 would reject the
        # doc as its own near-dup
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )


def lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    hash_impl: str = "md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded candidate pairs (id_a < id_b, distinct).

    The stack() unpivots the signature into (band, band_hash) rows; the
    self-join shuffles on that uniform hash — the banding join that
    replaces the quadratic all-pairs comparison.

    `max_bucket` is the production guard against degenerate corpora:
    a band bucket of k docs emits k(k-1)/2 pairs, so pair volume is
    quadratic in bucket size — and hot buckets in real corpora are
    boilerplate (headers, licenses, templates), not near-dups worth
    pairing. Measured on the synthetic corpus (whose fixed 31-word
    vocabulary makes collisions DENSER with scale): candidate pairs
    grew 100× (4.0M → 399.6M) for 10× docs at sf1 → sf10. Buckets
    larger than `max_bucket` are dropped before the join (bucket
    counts reuse the same (band, band_hash) exchange as the join —
    no extra shuffle); genuine duplicate pairs live in small buckets
    and survive. None (default) keeps the oracle-exact behavior.
    """
    bands = _band_rows(signatures, id_col, num_hashes, rows_per_band, hash_impl)
    # r14: lazy lineage cut BEFORE the join-key repartition. The
    # self-join consumes `bands` twice, and the ReuseExchange the
    # repartition was meant to trigger did NOT fire under AQE (the r13
    # captured plan shows the build side re-running the full signature
    # pipeline under its own Exchange + BroadcastExchange) — so the
    # (md5-heavy) signature pass executed once PER SIDE. The cut
    # materializes the 4-narrow-rows-per-doc band table once and
    # guarantees single execution regardless of planner behavior; at
    # 100 TB the signature pass dominates, so this halves the job.
    bands = cut_lineage(bands)
    # repartition on the join key so both sides of the self-join share
    # one identical exchange over the materialized band rows
    bands = bands.repartition("band", "band_hash")
    if max_bucket is not None:
        # r13 (guide §2.4): bucket sizes via a WINDOW count over the
        # exchange the self-join already establishes — the former
        # groupBy + join-back planned as a broadcast join per side,
        # which bypassed the shared exchange and re-ran the signature
        # pipeline once per consumer (16 exchanges / 3 BHJ at sf0.1).
        # A window partitioned by the repartition keys adds ZERO
        # exchanges and drops hot buckets with identical semantics
        # (count per (band, band_hash), keep <= max_bucket).
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_hash")
        bands = (
            bands.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.2,
    length_prefilter: bool = False,
) -> DataFrame:
    """Exact n-gram-set Jaccard over candidate pairs only.

    similarity = |A ∩ B| / |A ∪ B| over distinct shingle sets, rounded
    to 6dp for cross-engine float parity.

    `length_prefilter` applies the size-ratio bound from the
    similarity-join literature (PPJoin's length filter, Xiao et al.,
    WWW'08): |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    J ≤ min/max — a pair whose set-size ratio is below the threshold
    cannot pass and is dropped BEFORE the wide shingle arrays are
    joined and intersected. The result is provably identical:
    - the guard compares against threshold − 1e-6 (the final filter
      rounds J to 6dp, so a pair can pass with true J ≥ t − 5e-7;
      the looser bound keeps every such pair), and
    - the comparison is exact integer arithmetic (min·q ≥ p·max with
      p/q the guard threshold as a rational), so no float-boundary
      behavior differs between engines.
    The prejoin replaces |candidates| wide shuffle rows (two full
    shingle arrays each) with |survivors|, at the price of a narrow
    (id, size) join and one extra shingle pass for the sizes. That
    trade pays only when the pruning rate is material — i.e. when
    document lengths are heavy-tailed, as in real web corpora.
    Default OFF because it is measurably a loss on this synthetic
    corpus's near-uniform lengths: at sf1 (50k docs, 3.98M candidate
    pairs) the ratio bound prunes 1.4% and the verify ran 18.4 s →
    25.9 s with the prejoin. Exactness in both modes is pinned by
    test_jaccard_length_prefilter_is_exact.
    """
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    # r14: (a) conditional spread of the narrow (id, text) rows — the
    # tokenize + shingle + array_distinct pipeline otherwise runs in
    # the single scan task at bench SFs (guide §2.5); (b) lazy lineage
    # cut — `sets_df` is consumed by BOTH join sides (plus two more
    # size-join consumers under length_prefilter), so the shingle-set
    # pipeline executed twice (or 4×) per action.
    sets_df = cut_lineage(
        spread_to_cores(docs.select(id_col, F.col(text_col)))
        .select(id_col, tokenize(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= n + 1)
        .select(id_col, F.array_distinct(shingles("toks", n)).alias("sset"))
    )
    if length_prefilter:
        from fractions import Fraction

        guard = Fraction(str(threshold)) - Fraction(1, 10**6)
        p, q = guard.numerator, guard.denominator
        sizes = sets_df.select(id_col, F.size("sset").alias("sz"))
        candidates = (
            candidates.join(
                sizes.select(
                    F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")
                ),
                "doc_b",
            )
            .filter(
                F.least("sz_a", "sz_b") * F.lit(q)
                >= F.lit(p) * F.greatest("sz_a", "sz_b")
            )
            .select("doc_a", "doc_b")
        )
    # Per-pair verification is per-ROW compute (a hash-set intersect
    # over two shingle arrays), but the candidate rows are NARROW, so
    # AQE's byte-based partition coalescing packs them into one or two
    # tasks and the verify runs nearly single-threaded. Round-robin
    # repartition to the cluster's core count (REPARTITION_BY_NUM is
    # exempt from AQE coalescing); pair rows are ~16 bytes, so even
    # billion-pair candidate sets stay a few MB per partition.
    candidates = candidates.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism
    )
    # |A∪B| = |A| + |B| − |A∩B|: one hash-set build per pair instead
    # of two (array_union built and hashed the full union only to be
    # size()d) — the union size is determined by the two set sizes and
    # the intersection size, so dropping array_union cannot change the
    # rounded quotient
    jac = F.round(
        F.size(F.array_intersect("set_a", "set_b"))
        / (
            F.col("sz_a")
            + F.col("sz_b")
            - F.size(F.array_intersect("set_a", "set_b"))
        ),
        6,
    )
    # threshold filter via array-filter + explode, NOT .filter(): a
    # plain Filter on the computed column is pushed into the broadcast
    # join as a residual condition, re-evaluating the intersect once in
    # the join and again in the projection (no cross-operator CSE); the
    # generator form evaluates it once per row inside one Project (the
    # duplicated size(array_intersect) within the expression IS deduped
    # by project-level subexpression elimination) and drops non-passing
    # rows by exploding an empty array. Same rows out: NULL jaccard
    # fails both the old filter and the array predicate.
    j = (
        candidates.join(
            sets_df.select(
                F.col(id_col).alias("doc_a"),
                F.col("sset").alias("set_a"),
                F.size("sset").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            sets_df.select(
                F.col(id_col).alias("doc_b"),
                F.col("sset").alias("set_b"),
                F.size("sset").alias("sz_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.filter(F.array(jac), lambda v: v >= F.lit(threshold))
            ).alias("jaccard"),
        )
    )
    return j


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14, Alg. 2): for each node u, connect
    every STRICTLY LARGER neighbor to the minimum of u's closed
    neighborhood m = min(N(u) ∪ {u}). Emitted as (v, m) for v > u.
    Implemented as groupBy-min + join-back (never collect_list — a
    high-degree hub's neighborhood stays distributed)."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star step (Kiveris et al. Alg. 3): orient each edge
    toward the larger endpoint (u = max, v = min), then for each u
    connect u and all its smaller neighbors to m = min of them.
    Emitted as (v, m) for v ∈ N≤(u) ∪ {u}."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (
        nbr_edges.unionByName(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def star_contraction(
    edges: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star until the edge set is a fixed
    point — at convergence every node carries a direct edge to its
    component's minimum id (the graph is a forest of min-rooted
    stars). Returns (star edges (u, v=comp_min), rounds used).

    O(log² n) rounds worst case, ~log n in practice — vs O(diameter)
    for plain min-label propagation, which degrades to O(n) rounds on
    a chain-shaped dup graph. Per round: two groupBy-min aggregations
    and two join-backs, all keyed on node id (uniform); localCheckpoint
    truncates lineage so the plan stays constant-size across rounds.
    The convergence check is a driver-side count — the standard
    coordination pattern for iterative algorithms (GraphX supersteps
    do the same)."""
    cur = (
        edges.filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(cut_lineage_eager)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nxt = (
            _small_star(_large_star(cur))
            .transform(cut_lineage_eager)
        )
        # fixed-point test in ONE action (r13; was count + count +
        # subtract = 3 actions and a two-sided exchange): both sides
        # are distinct edge sets, so tagging rows 1/2 and summing per
        # edge yields 3 iff the edge is in both — any row != 3 is a
        # symmetric-difference witness.
        same = (
            cur.select("u", "v", F.lit(1).alias("sde"))
            .unionByName(nxt.select("u", "v", F.lit(2).alias("sde")))
            .groupBy("u", "v")
            .agg(F.sum("sde").alias("t"))
            .filter(F.col("t") != 3)
            .limit(1)
            .count()
            == 0
        )
        cur = nxt
        if same:
            break
    return cur, rounds


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Cluster near-dup candidate pairs into connected components:
    (doc_id, cluster_id, is_canonical) with cluster_id = min doc id
    reachable through the pair graph. The last stage of the dedup
    pipeline — downstream keeps `is_canonical` rows (one doc per
    cluster) via a filter or anti-join.

    algorithm="star" (default): large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log² n) rounds worst case, robust to adversarial
    long-chain dup graphs at 100 TB. algorithm="label": Pregel-style
    min-label propagation — one join per round, converges in
    O(diameter) rounds; fine for the star/clique-shaped components
    real near-dup graphs produce, kept for A/B parity testing.

    Scale notes: each round is groupBy-min + join-back keyed on doc
    id (uniform); `localCheckpoint` truncates lineage each round so
    the plan stays constant-size instead of growing by one join per
    iteration (driver OOM / exponential re-analysis otherwise).
    """
    # Lazy lineage cut on the candidate pairs (r14): `e` feeds BOTH
    # unionByName branches of `nodes` AND the contraction loop's first
    # round, so without the cut the upstream candidate pipeline (the
    # full LSH signature + banding self-join for dedup_survivors /
    # dedup_cluster) executed three times per action (guide §5). The
    # narrow 2-column pair rows materialize once; star_contraction's
    # own eager round-0 checkpoint forces them at build time exactly
    # as before.
    e = cut_lineage(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if algorithm == "star":
        stars, _ = star_contraction(
            e.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            max_iter=max_iter,
        )
        # At the fixed point each non-minimum node has an edge to its
        # component min; the min over incident endpoints IS the
        # component id. Nodes whose edges all collapsed (isolated after
        # self-loop removal, or component minimums) label themselves.
        sym = stars.unionByName(
            stars.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        comp = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("comp")
        )
        labels = (
            nodes.join(comp, nodes["id"] == comp["u"], "left")
            .select("id", F.coalesce("comp", "id").alias("comp"))
        )
        return labels.select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            (F.col("id") == F.col("comp")).alias("is_canonical"),
        )
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(cut_lineage_eager)
    )
    labels = nodes.select("id", F.col("id").alias("comp")).transform(cut_lineage_eager)
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "comp"
        )
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .transform(cut_lineage_eager)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


def prefix_filter_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.2,
    max_df: int | None = None,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> DataFrame:
    """COMPLETE candidate pairs for Jaccard >= threshold via prefix
    filtering (All-Pairs / PPJoin family — Bayardo et al. WWW'07,
    Xiao et al. WWW'08): deterministic recall 1.0, unlike MinHash-LSH
    banding whose recall is probabilistic.

    Lemma: if J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,|B|)); and two
    sets with overlap >= α must collide within their first
    (|s| − α + 1) elements under ANY single global token order. Using
    each set's own α_s = ceil(t·|s|) keeps prefixes valid for both
    sides (the smaller set's prefix only gets longer). So: pairs
    sharing >= 1 prefix token ⊇ all pairs with J >= t, and an exact
    verify on those candidates equals brute-force all-pairs — the
    oracle-checkable completeness claim.

    The global order is (document frequency ASC, token) — rarest
    first, the standard trick that shrinks candidate volume: a token
    appearing in d docs contributes at most d(d-1)/2 pairs, so
    prefixes made of rare tokens keep the join near-linear. Plan:
    one df-count shuffle, one per-doc rank window (partitioned by
    doc — parallel), one self-equi-join on the prefix token with the
    length filter AND the PPJoin positional filter fused into the
    join condition (both exactness-preserving; the positional filter
    alone cuts candidates 1.50M -> 0.67M at sf0.1/t=0.8). All
    integer arithmetic (ceil via div), JVM-side throughout.

    `max_df` is the adversarial-corpus control (the same hot-bucket
    cap as LSH): prefix tokens appearing in more than `max_df` docs
    are dropped BEFORE the self-join, bounding any token's pair
    contribution at max_df·(max_df−1)/2. Unlike LSH's probabilistic
    loss, the degradation is exact and observable — completeness is
    lost only for pairs whose EVERY shared prefix token is hot, and
    the dropped tokens are enumerable (df is already computed). The
    positional filter is DISABLED in capped mode: its overlap bound
    is proven only for a pair's first common token, which the cap
    may have dropped — pruning a later collision could then lose a
    pair the cap alone would keep, breaking the only-hot-pairs
    guarantee above. Default None preserves recall 1.0 (the
    oracle-gated semantics).
    """
    from fractions import Fraction

    from pyspark.sql import Window

    # EVERY fused filter — prefix length, length filter, positional
    # filter — guards at g = t − 1e-6, not t: the verify (and the
    # oracle) round J to 6dp, so a pair with true J as low as
    # t − 5e-7 still passes; a prefix length computed from the
    # unguarded t would be one token short of the overlap bound for
    # such a knife-edge pair once documents reach ~4·10^5 shingles
    # (where 1/|union| < 5e-7), silently breaking completeness.
    g = Fraction(str(threshold)) - Fraction(1, 10**6)
    gp, gq = g.numerator, g.denominator
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    # r14: conditional spread of the narrow (id, text) rows — the
    # tokenize + shingle + array_distinct + explode otherwise runs in
    # the single scan task at bench SFs (guide §2.5)
    sets_df = (
        spread_to_cores(docs.select(id_col, F.col(text_col)))
        .select(id_col, tokenize(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= n + 1)
        .select(id_col, F.array_distinct(shingles("toks", n)).alias("sset"))
    )
    tok = sets_df.select(
        id_col, F.size("sset").alias("sz"), F.explode("sset").alias("sh")
    )
    # r14 (guide §2.4): document frequency as a WINDOW count over the
    # shingle key instead of groupBy + join-back — the old form
    # consumed `tok` twice (count build side + probe side), executing
    # the whole shingle pipeline twice per action, and broadcast an
    # unbounded distinct-shingle table. Identical df values; one
    # execution, one exchange by the uniform shingle string.
    dfw = Window.partitionBy("sh")
    pos_win = Window.partitionBy(id_col).orderBy("df", "sh")
    ranked = tok.withColumn(
        "df", F.count(F.lit(1)).over(dfw)
    ).withColumn("pos", F.row_number().over(pos_win))
    # prefix length L = sz - ceil(g*sz) + 1, ceil computed as integer
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz")
        - F.expr(f"(({gp} * sz + {gq} - 1) div {gq})")
        + F.lit(1)
    )
    if max_df is not None:
        # hot-token guard: applied AFTER prefix selection so `pos`
        # keeps its meaning for the positional filter (positions are
        # ranks in the full df-ordered permutation either way)
        prefix = prefix.filter(F.col("df") <= max_df)
    # r14: lazy lineage cut — the candidate self-join consumes
    # `prefix` on both sides, so the shingle + df-window + rank
    # pipeline executed once PER SIDE (same disease and cure as
    # lsh_candidates); the prefix rows are narrow (id, sz, pos, sh)
    prefix = cut_lineage(prefix.select(id_col, "sz", "pos", "sh"))
    # length filter fused into the candidate join (J <= min/max, so a
    # size-ratio below threshold can never qualify): sizes ride along
    # in the prefix frame, so this costs zero extra joins and prunes
    # BEFORE the distinct and the verify. Guard at t - 1e-6 in integer
    # arithmetic — provably loose against the verify's 6dp rounding
    # (same reasoning as jaccard_verify's prefilter). Sharp exactly
    # where prefix filtering is used (high t): at t=0.8 only pairs
    # within 25% of each other's size survive.
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2), exactness-
    # preserving: with both shingle lists sorted by the SAME global
    # order, a qualifying pair's FIRST common token w at positions
    # (pa, pb) bounds overlap <= 1 + min(szA - pa, szB - pb) (every
    # other common token sorts after w on both sides), and Jaccard
    # >= g needs overlap >= ceil(g/(1+g)·(szA+szB)). Collisions
    # failing the bound are pruned per-row; the first collision of a
    # qualifying pair always survives it, so the distinct() below
    # still sees every qualifying pair. Integer form: ubound·(gp+gq)
    # >= gp·(szA+szB) ⟺ ubound >= ceil-threshold, no float, no ceil.
    ubound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cond = (F.col("a.sh") == F.col("b.sh")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    # `length_filter`/`positional_filter` exist so the pruning value of
    # each exactness-preserving filter can be MEASURED per corpus
    # (tools/measure_pruning.py) — production keeps both on.
    if length_filter:
        cond = cond & (
            F.least(F.col("a.sz"), F.col("b.sz")) * F.lit(gq)
            >= F.lit(gp) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
    if positional_filter and max_df is None:
        cond = cond & (
            ubound * F.lit(gp + gq)
            >= F.lit(gp) * (F.col("a.sz") + F.col("b.sz"))
        )
    return (
        a.join(
            b,
            cond,
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def repeated_substring_spans(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    target=None,
) -> DataFrame:
    """Exact substring dedup, suffix-array grade (the Lee et al. 2022
    ExactSubstr design, arXiv:2107.06499): for every document, the
    MAXIMAL token spans covered by some length->=k token gram that
    occurs >= 2 times anywhere in the corpus (including a second time
    in the same document — self-repetition is memorizable too).

    Equivalence to the suffix-array formulation: a substring of
    length >= k occurs twice iff each of its k-grams occurs twice, so
    the union of duplicated-k-gram coverage intervals IS the set of
    positions a suffix-array pass would mark; merging overlapping /
    contiguous intervals per document yields the maximal removable
    spans. No suffix array needs to be materialized — the corpus-wide
    duplicate detection is one groupBy on the gram digest.

    Output: (doc_id, span_start, span_end, span_len) with 1-based
    inclusive token positions, one row per maximal span.

    Scale (100 TB): two shuffles, both linear in corpus token count —
    (1) ONE exchange of the gram occurrences by the uniform 128-bit
    md5 digest feeding a window count (>=2 test in-partition; output
    is |duplicated occurrences|, never a pair product, so degenerate
    all-identical corpora stay LINEAR where banded self-joins
    explode), (2) the per-document gaps-and-islands window partitioned
    by doc_id (state bounded by tokens-per-doc). The r13 form ran a
    gram-digest groupBy plus a semi-join back, which executed the
    gram pipeline twice per action and broadcast the duplicated-digest
    set (unbounded on boilerplate-heavy corpora). Reference analogue:
    none — beyond-reference LLM-pipeline tier; the 8-gram `span_dedup`
    reports which spans repeat, this reports where each document must
    be cut."""
    from pyspark.sql import Window

    occ = substring_gram_occurrences(documents, k=k, text_col=text_col)
    # r14 (guide §2.4): the >=2-occurrences test is a WINDOW count over
    # the same gh key, not a groupBy + semi-join back. The old form
    # consumed `occ` twice — once into the count agg (the dup build
    # side) and once as the probe — so the whole tokenize + shingle +
    # md5 explode pipeline EXECUTED twice per action (r13 before-plan:
    # two Scan+Generate branches, zero ReusedExchange). The window form
    # executes it once and shuffles occ exactly once, by the uniform
    # 128-bit digest; at 100 TB this also removes the broadcast of the
    # duplicated-digest set (unbounded on a boilerplate-heavy corpus —
    # the old plan's availability hazard), at the cost of a per-
    # partition sort by gh that the semi-join's SMJ fallback would have
    # paid anyway.
    wg = Window.partitionBy("gh")
    hits = occ.withColumn("ct", F.count(F.lit(1)).over(wg)).filter(
        F.col("ct") >= 2
    )
    # `target` (a boolean Column over `documents`) restricts which
    # docs EMIT spans; duplicate counts always see the whole corpus —
    # the window count above runs over ALL occurrences, the target
    # semi-join prunes emission AFTER it (the admission-time
    # incremental form: new-batch spans against old corpus +
    # batch-internal repeats)
    if target is not None:
        target_ids = documents.filter(target).select("doc_id")
        hits = hits.join(target_ids, "doc_id", "left_semi")
    return spans_from_hits(hits.select("doc_id", "pos"), k)


def spans_from_hits(hits: DataFrame, k: int) -> DataFrame:
    """Merge duplicated-gram start positions (doc_id, pos) into
    maximal per-doc spans: every hit covers tokens [pos, pos+k-1];
    same-length intervals sorted by pos merge iff pos - prev_pos <= k
    (overlap or contiguous coverage) — gaps-and-islands with a running
    break sum, windowed per doc (never global)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))  # NULL lag (first row) starts an island
    islands = hits.withColumn(
        "island",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def substring_gram_occurrences(
    documents: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, gh) rows: every k-token gram occurrence with its
    1-based start position and md5 digest — the shared front half of
    the substring-dedup family (batch counts them; the streaming
    admission job probes them against a static corpus index).

    The narrow (doc_id, text) rows are conditionally round-robin
    spread first (operators/spread.py): the tokenize + shingle + md5
    explode otherwise runs inside the scan stage, which at the bench
    SFs is ONE task over a single-row-group parquet (guide §2.5);
    skipped whenever the scan parallelizes by itself."""
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    toks = spread_to_cores(
        documents.select("doc_id", F.col(text_col))
    ).select("doc_id", tokenize(F.col(text_col)).alias("toks"))
    grams = toks.filter(
        F.col("toks").isNotNull() & (F.size("toks") >= k)
    ).select(
        "doc_id",
        F.posexplode(shingles("toks", k)).alias("pos0", "gram"),
    )
    return grams.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.md5("gram").alias("gh"),
    )


def remove_repeated_substrings(
    documents: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """The cut half of exact substring dedup (Lee et al. 2022): every
    token covered by a `repeated_substring_spans` interval is removed
    and the survivors re-joined in order — (doc_id, clean_text,
    n_kept). Documents with zero tokens, or fully covered by
    repeated spans, emit NO row (nothing survives to train on).

    Plan: the spans frame is tiny relative to the corpus (maximal
    intervals, not occurrences), so the coverage test is a LEFT ANTI
    join equi-keyed on doc_id with the BETWEEN as residual; the
    re-join is one per-doc sort_array fold (no window)."""
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    spans = repeated_substring_spans(documents, k=k, text_col=text_col)
    t = (
        # same conditional spread as substring_gram_occurrences: the
        # re-tokenize + posexplode otherwise runs in the single scan
        # task at bench SFs (guide §2.5)
        spread_to_cores(documents.select("doc_id", F.col(text_col)))
        .select("doc_id", tokenize(F.col(text_col)).alias("toks"))
        .select("doc_id", F.posexplode("toks").alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    kept = t.alias("t").join(
        spans.alias("s"),
        (F.col("t.doc_id") == F.col("s.doc_id"))
        & F.col("t.pos").between(F.col("s.span_start"), F.col("s.span_end")),
        "left_anti",
    )
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
