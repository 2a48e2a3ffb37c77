"""Large-scale training-data pipeline queries (beyond the reference):
dedup and similarity search over the `documents` and `embeddings`
tables.

Cross-engine determinism: every hash is md5 (identical hex in Spark
and DuckDB); every float output is rounded; minhash "min" is taken
over md5 hex STRINGS (lexicographic order is identical in both
engines), so no engine-specific 64-bit hash is ever compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.operators.lineage import (
    cut_lineage,
)
from gmall_realtime_flink_spark.operators.dedup import (
    jaccard_verify,
    lsh_candidates,
    minhash_signatures,
    shingles,
    tokenize,
)
from gmall_realtime_flink_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_bucketed,
    embedding_near_dup_pairs,
    knn_self_join,
)
from gmall_realtime_flink_spark.plans.registry import register


# shared oracle CTEs for the minhash family (word 2-gram shingles,
# 8 minhashes, 4 bands × 2) — DuckDB lists are 1-based like
# element_at, so the SQL is a transliteration of operators/dedup.py
_MINHASH_CTES = """
    d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS sh
      FROM d WHERE len(toks) >= 3),
    mh AS (
      SELECT doc_id,
        list_aggregate(list_transform(sh, s -> md5('0|' || s)), 'min') AS h0,
        list_aggregate(list_transform(sh, s -> md5('1|' || s)), 'min') AS h1,
        list_aggregate(list_transform(sh, s -> md5('2|' || s)), 'min') AS h2,
        list_aggregate(list_transform(sh, s -> md5('3|' || s)), 'min') AS h3,
        list_aggregate(list_transform(sh, s -> md5('4|' || s)), 'min') AS h4,
        list_aggregate(list_transform(sh, s -> md5('5|' || s)), 'min') AS h5,
        list_aggregate(list_transform(sh, s -> md5('6|' || s)), 'min') AS h6,
        list_aggregate(list_transform(sh, s -> md5('7|' || s)), 'min') AS h7
      FROM s),
    bands AS (
      SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM mh
      UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM mh
      UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM mh
      UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM mh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
"""

# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS dup_ct
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content, keep lowest doc_id as "
    "representative. At 100 TB: single shuffle on a 128-bit hash — "
    "uniformly distributed, skew-free by construction.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_ct")
    )


# ---------------------------------------------------------------------------
# Dedup: MinHash-LSH + n-gram Jaccard (operators/dedup.py)
# ---------------------------------------------------------------------------


@register(
    "doc_minhash_signature",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM mh
    """,
    doc="MinHash signatures (8 hashes over word 2-gram shingles): the "
    "narrow per-doc transform feeding LSH. Min over md5 hex strings — "
    "deterministic across engines.",
    tags=("dedup", "minhash"),
)
def doc_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return minhash_signatures(d)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b FROM cand
    """,
    doc="MinHash-LSH banded near-dup candidates: unpivot signatures to "
    "(band, band_hash) rows, self-equi-join on the band hash — ONE "
    "shuffle keyed by a uniform 128-bit hash, never an all-pairs "
    "cross product. 100 TB path: band buckets are the join key; "
    "output is |colliding pairs|.",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return lsh_candidates(minhash_signatures(d))


@register(
    "dedup_minhash_lsh_capped",
    oracle=f"""
    WITH {_MINHASH_CTES},
    small AS (
      SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 8),
    capped AS (
      SELECT b.doc_id, b.band, b.bh
      FROM bands b JOIN small s ON b.band = s.band AND b.bh = s.bh)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
    doc="LSH candidates with the hot-bucket guard (max_bucket=8): a "
    "band bucket of k docs emits k(k-1)/2 pairs, so over-sized "
    "buckets — boilerplate in real corpora, vocabulary collisions in "
    "degenerate ones — are dropped before the self-join. Measured at "
    "sf10 the guard cut 399.6M candidate pairs to 30.4M at cap 200; "
    "genuine duplicate pairs occupy small buckets and survive "
    "(test_lsh_max_bucket_guard). Bucket counts reuse the join's own "
    "(band, band_hash) exchange — the guard adds no shuffle.",
    tags=("dedup", "minhash", "lsh", "scale"),
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return lsh_candidates(minhash_signatures(d), max_bucket=8)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_MINHASH_CTES},
    sets AS (SELECT doc_id, list_distinct(sh) AS sset FROM s)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             round(len(list_intersect(x.sset, y.sset))::DOUBLE
                   / len(list_distinct(x.sset || y.sset)), 6) AS jaccard
      FROM cand c
      JOIN sets x ON c.doc_a = x.doc_id
      JOIN sets y ON c.doc_b = y.doc_id
    ) WHERE jaccard >= 0.2
    """,
    doc="Exact word-2-gram-set Jaccard verification over the LSH "
    "candidates only (never all pairs): the verify half of "
    "candidate-generation + verification dedup.",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(d))
    return jaccard_verify(cand, d, threshold=0.2)


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH {_MINHASH_CTES},
    sets AS (SELECT doc_id, list_distinct(sh) AS sset FROM s),
    sz AS (SELECT doc_id, len(sset)::BIGINT AS n FROM sets),
    post AS (SELECT doc_id, unnest(sset) AS shg FROM sets),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
      FROM post a JOIN post b ON a.shg = b.shg AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b, round(i::DOUBLE / (x.n + y.n - i), 6) AS j
        FROM inter JOIN sz x ON inter.doc_a = x.doc_id
                   JOIN sz y ON inter.doc_b = y.doc_id)
      WHERE j >= 0.8),
    lsh AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN inter ON inter.doc_a = c.doc_a AND inter.doc_b = c.doc_b
      JOIN sz x ON c.doc_a = x.doc_id JOIN sz y ON c.doc_b = y.doc_id
      WHERE round(inter.i::DOUBLE / (x.n + y.n - inter.i), 6) >= 0.8),
    h AS (SELECT count(*)::BIGINT AS hits
          FROM lsh JOIN exact USING (doc_a, doc_b))
    SELECT 0.8::DOUBLE AS threshold,
           (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           (SELECT count(*) FROM lsh)::BIGINT AS n_lsh,
           h.hits AS hits,
           CASE WHEN (SELECT count(*) FROM exact) > 0
                THEN round(h.hits::DOUBLE
                           / (SELECT count(*) FROM exact), 6) + 0.0
           END AS recall
    FROM h
    """,
    doc="LSH recall audit through the correctness gate: verified "
    "MinHash-LSH duplicate pairs (J >= 0.8) measured against the "
    "COMPLETE prefix-filter ground truth on the same corpus — the "
    "number that decides whether banding parameters (8 hashes, 4 "
    "bands) are safe to trust before a 100 TB dedup run, computed "
    "exactly like similarity_recall_at_k audits the ANN index. Both "
    "sides reuse the oracle-gated operators (lsh_candidates + "
    "jaccard_verify; prefix_filter_candidates is recall-1.0 by the "
    "prefix lemma); the all-pairs product exists only in the DuckDB "
    "oracle's postings join.",
    tags=("datapipe", "dedup", "minhash", "diagnostics"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidates,
        minhash_signatures,
        prefix_filter_candidates,
    )

    d = load(spark, sf_dir, "documents")
    # r13 optimization (guide §2.3/§2.4): the original ran
    # jaccard_verify TWICE (once per candidate source) — two full
    # tokenize+shingle+intersect passes over overlapping pair sets,
    # plus a third join for the hit count. Verify the UNION of
    # candidate pairs ONCE, carrying per-source provenance flags, and
    # derive all three counts from one aggregation. Equivalent by
    # construction (no completeness lemma needed): a pair verifies at
    # J >= 0.8 independently of which generator proposed it, so
    # {verified & from_lsh} == old lsh, {verified & from_prefix} ==
    # old exact, and their conjunction is the old semi-join.
    lshc = lsh_candidates(minhash_signatures(d)).select(
        "doc_a", "doc_b", F.lit(1).alias("il"), F.lit(0).alias("ip")
    )
    pfc = prefix_filter_candidates(d, threshold=0.8).select(
        "doc_a", "doc_b", F.lit(0).alias("il"), F.lit(1).alias("ip")
    )
    # r13 optimization 2 (guide §5 — lineage): `cand` is consumed by
    # BOTH the verify input and the provenance re-join, and the plan
    # showed zero ReusedExchange — the two candidate generators (each
    # a full tokenize→shingle→minhash/prefix pipeline) executed twice
    # inside one action. Lazy localCheckpoint materializes the narrow
    # (pair, flags) table once inside the timed action; both branches
    # read the cut. Fresh builder invocations still recompute from
    # parquet (nothing crosses runs).
    cand = (
        lshc.unionByName(pfc)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("il").alias("il"), F.max("ip").alias("ip"))
        .transform(cut_lineage)
    )
    ver = jaccard_verify(
        cand.select("doc_a", "doc_b"), d, threshold=0.8
    ).select("doc_a", "doc_b")
    stats = ver.join(cand, ["doc_a", "doc_b"]).agg(
        F.coalesce(F.sum("ip"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("il"), F.lit(0)).cast("long").alias("n_lsh"),
        F.coalesce(F.sum(F.col("il") * F.col("ip")), F.lit(0))
        .cast("long")
        .alias("hits"),
    )
    return stats.select(
        F.lit(0.8).alias("threshold"),
        "n_exact",
        "n_lsh",
        "hits",
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("hits") / F.col("n_exact"), 6) + F.lit(0.0),
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings (operators/similarity.py)
# ---------------------------------------------------------------------------


@register(
    "similarity_topk",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = 0
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    scored AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), q.qe), 6) + 0.0 AS cos_sim
      FROM embeddings e, q WHERE e.vec_id != 0
        -- NULL/per-element-NULL excluded (valid_embeddings rule)
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0)
    SELECT vec_id, cos_sim, rk FROM (
      SELECT vec_id, cos_sim,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Brute-force cosine top-k over the embedding column: the exact "
    "baseline for ANN. Query vector broadcast-cross-joined (no "
    "collect); dot/norm as JVM aggregate/zip_with folds; "
    "TakeOrderedAndProject top-k (no global sort).",
    tags=("similarity", "ann"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return cosine_topk(e, query_id=0, k=10)


@register(
    "similarity_topk_bucketed",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = 0
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    b AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> x::DOUBLE) AS de, q.qe,
             (CASE WHEN e.embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN e.embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN e.embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN e.embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket,
             (CASE WHEN q.qe[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN q.qe[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN q.qe[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN q.qe[4] >= 0 THEN 8 ELSE 0 END) AS q_bucket
      FROM embeddings e, q WHERE e.vec_id != 0
        -- NULL/per-element-NULL excluded (valid_embeddings rule)
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0),
    scored AS (
      SELECT vec_id, round(list_cosine_similarity(de, qe), 6) + 0.0 AS cos_sim
      FROM b WHERE bucket = q_bucket)
    SELECT vec_id, cos_sim, rk FROM (
      SELECT vec_id, cos_sim,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="ANN top-k via a deterministic sign-bit coarse quantizer "
    "(IVF-style hyperoctant cells): only the query's bucket is "
    "scanned. At 100 TB the bucket is a partition key -> partition "
    "pruning; recall tunes by multi-probing neighbor buckets "
    "(IVF nprobe analogue).",
    tags=("similarity", "ann", "lsh"),
)
def similarity_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return cosine_topk_bucketed(e, query_id=0, k=10, bits=4)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH nb AS (
      SELECT greatest(4, least(16, ceil(log2(greatest(count(*), 1) / 1024.0))::INT))
        AS bits
      FROM embeddings),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_sum(list_transform(range(1, (SELECT bits FROM nb) + 1),
               i -> CASE WHEN embedding[i] >= 0
                    THEN (1 << (i - 1)) ELSE 0 END))::INT AS bucket
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cos_sim
      FROM e a JOIN e b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs via the sign-bit coarse "
    "quantizer: pairs compared only within cells — one bucketed "
    "shuffle, never quadratic all-pairs. Cell count AUTO-SCALES with "
    "corpus size (operators/similarity.auto_bits: ~n/1024 cells, "
    "clamped to [16, 65536]; the formula is mirrored in the oracle's "
    "nb CTE) — a fixed 16 cells went quadratic at 200k vectors. "
    "Threshold 0.4 fits the synthetic corpus (real near-dup "
    "embeddings use ~0.95).",
    tags=("dedup", "similarity", "ann"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.4)  # bits auto-scaled


# ---------------------------------------------------------------------------
# Dedup: cluster candidates into components (operators/dedup.py)
# ---------------------------------------------------------------------------

# the oracle computes min-reachable-id per node via a recursive CTE —
# the declarative statement of what the iterative Spark propagation
# converges to
@register(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    nodes AS (SELECT doc_a AS id FROM cand UNION SELECT doc_b FROM cand),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id)
    SELECT id AS doc_id, min(r) AS cluster_id,
           (id = min(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
    doc="Near-dup clustering: connected components over the MinHash-LSH "
    "candidate pairs via Pregel-style min-label propagation "
    "(operators/dedup.connected_components); downstream dedup keeps "
    "the is_canonical row per cluster. The final stage of the "
    "candidate->verify->cluster->keep-one dedup pipeline.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import connected_components

    d = load(spark, sf_dir, "documents")
    return connected_components(lsh_candidates(minhash_signatures(d)))


# ---------------------------------------------------------------------------
# IVF search, label centroids, edit-distance dedup, int8 quantization
# ---------------------------------------------------------------------------


@register(
    "similarity_topk_ivf",
    oracle="""
    WITH eall AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    cent0 AS (SELECT vec_id AS cid, emb AS cvec FROM eall WHERE vec_id < 8),
    -- Lloyd iteration 1: argmax-cosine assignment, exact-decimal means
    a1 AS (
      SELECT vec_id, emb, cid AS cell FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM eall e, cent0 c) WHERE rn = 1),
    m1 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a1)
      GROUP BY cell, pos),
    cent1 AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent0 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m1 GROUP BY cell
      ) m ON c.cid = m.cell),
    -- Lloyd iteration 2
    a2 AS (
      SELECT vec_id, emb, cid AS cell FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM eall e, cent1 c) WHERE rn = 1),
    m2 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a2)
      GROUP BY cell, pos),
    cent AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent1 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m2 GROUP BY cell
      ) m ON c.cid = m.cell),
    -- IVF probe over the trained centroids
    e AS (SELECT vec_id, emb FROM eall WHERE vec_id != 0),
    assign AS (
      SELECT vec_id, cid AS cell, emb FROM (
        SELECT e.vec_id, c.cid, e.emb,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM e, cent c) WHERE rn = 1),
    q AS (SELECT emb AS qe FROM eall WHERE vec_id = 0),
    qc AS (
      SELECT cid FROM (
        SELECT c.cid, row_number() OVER (
          ORDER BY round(list_cosine_similarity(q.qe, c.cvec), 6)
                   DESC, c.cid) AS rn
        FROM cent c, q) WHERE rn <= 2),
    scored AS (
      SELECT a.vec_id, round(list_cosine_similarity(a.emb, q.qe), 6) + 0.0 AS cos_sim
      FROM assign a, q WHERE a.cell IN (SELECT cid FROM qc))
    SELECT vec_id, cos_sim, rk FROM (
      SELECT vec_id, cos_sim,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored) WHERE rk <= 10
    """,
    doc="IVF ANN top-k with k-means-TRAINED centroids: 2 deterministic "
    "Lloyd iterations (seed = first K vectors, exact DECIMAL(38,12) "
    "member means — order-independent, so the oracle recomputes the "
    "identical centroids), nprobe=2 cell probe, brute-force kernel on "
    "the pruned candidate set (operators/similarity.cosine_topk_ivf + "
    "kmeans_centroids). Completes the ANN tier pair: sign-bucket "
    "(hyperoctant) and IVF (trained centroid cells).",
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import cosine_topk_ivf

    e = load(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(e, query_id=0, k=10, n_cells=8, nprobe=2)


@register(
    "label_centroids",
    oracle="""
    SELECT label,
           n_members,
           round(centroid[1], 6) AS c0,
           round(centroid[2], 6) AS c1,
           round(centroid[3], 6) AS c2,
           round(centroid[4], 6) AS c3
    FROM (
      SELECT label, any_value(n) AS n_members,
             list(m ORDER BY pos) AS centroid
      FROM (
        SELECT label, pos,
               sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m,
               count(*) AS n
        FROM (
          SELECT label, unnest(list_transform(embedding, x -> x::DOUBLE)) AS v,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings
          -- NULL/per-element-NULL/NON-FINITE vectors excluded
          -- (valid_embeddings rule: DuckDB raises on NaN -> DECIMAL)
          WHERE len(list_filter(embedding,
            x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
        GROUP BY label, pos)
      GROUP BY label)
    """,
    doc="Per-class embedding centroids (the class-prototype op of a "
    "labeled training corpus): element-wise mean per label via "
    "posexplode -> (label, dim) partial-aggregated sums — the exchange "
    "carries |labels|x|dims| rows, not |vectors|. Means are exact "
    "DECIMAL(38,12) sums / count (order-independent, cross-engine "
    "deterministic — the kmeans_centroids mechanism). Output projects "
    "the first 4 coordinates rounded to 6dp (the hash surface; the "
    "full vector rides in the plan).",
    tags=("similarity", "embedding", "agg"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        valid_embeddings,
    )

    e = valid_embeddings(load(spark, sf_dir, "embeddings"))
    exploded = e.select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("pos", "v"),
    )
    per_dim = exploded.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = per_dim.groupBy("label").agg(
        F.any_value("n").alias("n_members"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("centroid"),
    )
    return cent.select(
        "label",
        "n_members",
        F.round(F.element_at("centroid", 1), 6).alias("c0"),
        F.round(F.element_at("centroid", 2), 6).alias("c1"),
        F.round(F.element_at("centroid", 3), 6).alias("c2"),
        F.round(F.element_at("centroid", 4), 6).alias("c3"),
    )


@register(
    "dedup_edit_distance",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT c.doc_a, c.doc_b,
           levenshtein(substr(x.text, 1, 200), substr(y.text, 1, 200))
             AS edit_dist
    FROM cand c
    JOIN documents x ON c.doc_a = x.doc_id
    JOIN documents y ON c.doc_b = y.doc_id
    WHERE levenshtein(substr(x.text, 1, 200), substr(y.text, 1, 200)) <= 120
    """,
    doc="Edit-distance verification over LSH candidates (the third "
    "verify metric next to Jaccard and hamming): levenshtein on the "
    "200-char prefixes of candidate pairs only — the O(n*m) DP runs "
    "on |candidates| bounded-length strings, never all-pairs or "
    "full-length. Both engines ship the identical levenshtein "
    "definition.",
    tags=("dedup", "editdistance"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # round-robin spread before the verify: the O(200×200) DP is
    # per-row compute over narrow pair rows, which AQE's byte-based
    # coalescing would otherwise pack into one task (same reasoning as
    # jaccard_verify's repartition)
    cand = lsh_candidates(minhash_signatures(d)).repartition(
        spark.sparkContext.defaultParallelism
    )
    x = d.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 200).alias("text_a"),
    )
    y = d.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 200).alias("text_b"),
    )
    # threshold filter via array-filter + explode: a plain Filter on
    # the computed column is pushed into the broadcast join as a
    # residual condition, running the levenshtein DP once in the join
    # and AGAIN in the projection; the generator form evaluates it
    # once per row and drops non-passing rows via the empty array
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.filter(
                    F.array(F.levenshtein("text_a", "text_b")),
                    lambda v: v <= F.lit(120),
                )
            ).alias("edit_dist"),
        )
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           round(lo, 6) AS lo,
           round(scale, 6) AS scale,
           code[1] AS q0, code[2] AS q1, code[3] AS q2, code[4] AS q3,
           round(mse, 6) AS recon_mse
    FROM (
      SELECT vec_id, lo, scale,
             list_transform(emb, x -> round((x - lo) / scale)::INT) AS code,
             list_aggregate(
               list_transform(emb,
                 x -> pow(x - (lo + round((x - lo) / scale) * scale), 2)),
               'sum') / len(emb) AS mse
      FROM (
        SELECT vec_id, emb,
               list_aggregate(emb, 'min') AS lo,
               (list_aggregate(emb, 'max') - list_aggregate(emb, 'min'))
                 / 255.0 AS scale
        FROM (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
          FROM embeddings
          -- NULL/per-element-NULL vectors excluded (valid_embeddings
          -- rule: DuckDB list_aggregate skips NULL elements, Spark's
          -- fold propagates — recon_mse would diverge)
          WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)))
    """,
    doc="Int8 embedding quantization (the PQ-lite storage path for "
    "100 TB vector corpora: 4x smaller than float32, scan-friendly): "
    "per-vector min/max affine scale to 0..255 codes + reconstruction "
    "MSE — a narrow JVM-side array transform (zero shuffles, zero "
    "Python). Output surfaces the scale params, first 4 codes, and "
    "the per-vector error.",
    tags=("similarity", "embedding", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        valid_embeddings,
    )

    e = valid_embeddings(load(spark, sf_dir, "embeddings"))
    emb = F.expr("transform(embedding, x -> cast(x as double))")
    df = e.select("vec_id", emb.alias("emb"))
    df = df.withColumn("lo", F.array_min("emb")).withColumn(
        "scale", (F.array_max("emb") - F.array_min("emb")) / F.lit(255.0)
    )
    # try_divide: a constant vector (max == min, e.g. all-zero) has
    # scale 0 -> codes/mse NULL, matching DuckDB's NULL-on-/0 in the
    # oracle; a plain `/` is an ANSI ArithmeticException.
    code = F.expr(
        "transform(emb, x -> cast(round(try_divide(x - lo, scale)) as int))"
    )
    mse = F.expr(
        "aggregate(transform(emb, "
        "x -> pow(x - (lo + round(try_divide(x - lo, scale)) * scale), 2)), "
        "cast(0.0 as double), (a, v) -> a + v) / size(emb)"
    )
    df = df.withColumn("code", code).withColumn("mse", mse)
    return df.select(
        "vec_id",
        F.round("lo", 6).alias("lo"),
        F.round("scale", 6).alias("scale"),
        F.element_at("code", 1).alias("q0"),
        F.element_at("code", 2).alias("q1"),
        F.element_at("code", 3).alias("q2"),
        F.element_at("code", 4).alias("q3"),
        F.round("mse", 6).alias("recon_mse"),
    )


# ---------------------------------------------------------------------------
# Decontamination, span and substring dedup, k-NN graph
# ---------------------------------------------------------------------------

# shared builders for the decontamination / span-dedup family — both
# entries compose the SAME definitions, so a rule change (shingle
# width, eval split, tokenizer) can't silently de-sync them
EVAL_SPLIT_MOD = 50  # doc_id % 50 == 0 -> held-out eval slice


def _doc_tokens(d: DataFrame) -> DataFrame:
    # deliberately NOT spread: of its consumers only span_dedup's
    # 8-gram explode is heavy (it spreads explicitly); the light
    # two-level aggs (doc_decontaminate 0.66 s) measured SLOWER behind
    # a blanket spread (the exchange exceeds the kernel, the r13
    # light-media lesson)
    return d.select("doc_id", tokenize(F.col("text")).alias("toks"))


def _distinct_shingle_rows(toks: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) rows, de-duplicated within each doc."""
    return toks.filter(F.size("toks") >= n).select(
        "doc_id",
        F.explode(F.array_distinct(shingles("toks", n))).alias("sh"),
    )


def _eval_shingle_set(sh: DataFrame) -> DataFrame:
    return (
        sh.filter(F.col("doc_id") % EVAL_SPLIT_MOD == 0)
        .select(F.col("sh").alias("esh"))
        .distinct()
    )


@register(
    "doc_decontaminate",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
    SELECT s.doc_id, count(*)::BIGINT AS hit_ct
    FROM sh s JOIN ev ON s.sh = ev.sh
    WHERE s.doc_id % 50 <> 0
    GROUP BY 1
    """,
    doc="Benchmark decontamination: train docs sharing any word 3-gram "
    "with the held-out eval set (doc_id%50==0 stands in for the eval "
    "corpus), with the count of distinct leaked 3-grams. Plan: the "
    "eval n-gram set is distinct-ed then BROADCAST (eval corpora are "
    "KB-MB even when training data is 100 TB), so the train side "
    "never shuffles — explode, broadcast-hash probe, partial-agg "
    "count. If the eval set ever outgrew broadcast, the same plan "
    "degrades to one shuffle on the n-gram hash.",
    tags=("datapipe", "dedup", "decontamination"),
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _distinct_shingle_rows(_doc_tokens(load(spark, sf_dir, "documents")))
    ev = _eval_shingle_set(sh)
    return (
        sh.filter(F.col("doc_id") % EVAL_SPLIT_MOD != 0)
        .join(F.broadcast(ev), F.col("sh") == F.col("esh"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("hit_ct"))
    )


@register(
    "span_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 7),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                 || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
                 || toks[i+6] || ' ' || toks[i+7])) AS span
      FROM d WHERE len(toks) >= 8)
    SELECT md5(span) AS span_hash,
           min(span) AS span,
           count(DISTINCT doc_id)::BIGINT AS doc_ct,
           count(*)::BIGINT AS occ_ct
    FROM s
    GROUP BY 1
    HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="Sub-document verbatim-span dedup: word-8-gram spans repeated "
    "across documents, with document frequency and total occurrences — "
    "the unit-level pass that document-level dedup misses (boilerplate, "
    "licenses, memorized spans; the span-dedup idea from Lee et al. "
    "2022, at 8 words instead of 50 BPE tokens for the synthetic "
    "corpus). Plan: explode the span stream, group on the md5 digest "
    "(fixed-width shuffle key at 100 TB, not the span string; the "
    "min(span) payload rides the same exchange). count(DISTINCT "
    "doc_id) expands in-group, bounded by per-span fan-out.",
    tags=("datapipe", "dedup", "text"),
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    # conditional spread (guide §2.5): the 8-gram explode + per-span
    # md5 partial agg otherwise runs in the single scan task at bench
    # SFs (heavy enough to win, unlike _doc_tokens' light consumers)
    toks = _doc_tokens(
        spread_to_cores(
            load(spark, sf_dir, "documents").select("doc_id", "text")
        )
    )
    s = toks.filter(F.size("toks") >= 8).select(
        "doc_id", F.explode(shingles("toks", 8)).alias("span")
    )
    return (
        s.groupBy(F.md5(F.col("span")).alias("span_hash"))
        .agg(
            F.min("span").alias("span"),
            F.countDistinct("doc_id").alias("doc_ct"),
            F.count("*").alias("occ_ct"),
        )
        .filter(F.col("doc_ct") >= 2)
    )


# the exact-substring spans CTE chain, shared by the three
# dedup_substring_* oracles (detect / ratio / cut)
_SUBSTR_SPANS_CTES = """
    d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 8 + 1),
               i -> {'pos': i,
                     'gh': md5(array_to_string(toks[i:i+8-1], ' '))})) AS u
      FROM d WHERE len(toks) >= 8),
    occ AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM s),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) >= 2),
    hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                  <= 8 THEN 0 ELSE 1 END AS brk
      FROM hits),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl),
    spans AS (
      SELECT doc_id,
             min(pos)::BIGINT AS span_start,
             (max(pos) + 8 - 1)::BIGINT AS span_end,
             (max(pos) + 8 - min(pos))::BIGINT AS span_len
      FROM grp GROUP BY doc_id, island)
"""


# incremental variant of the chain: duplicate COUNTS see the whole
# corpus, but only the new ingest batch (source = 'src0', the
# dedup_incremental convention) EMITS spans
_SUBSTR_SPANS_CTES_INCR = _SUBSTR_SPANS_CTES.replace(
    "hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (gh)),",
    "hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (gh)\n"
    "      JOIN documents dd ON o.doc_id = dd.doc_id\n"
    "      WHERE dd.source = 'src0'),",
)
assert _SUBSTR_SPANS_CTES_INCR != _SUBSTR_SPANS_CTES  # replace anchored


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SUBSTR_SPANS_CTES}
    SELECT doc_id, span_start, span_end, span_len FROM spans
    """,
    doc="Exact substring dedup (suffix-array grade, the Lee et al. "
    "2022 ExactSubstr design): per-document MAXIMAL token spans "
    "covered by an 8-token gram occurring >= 2 times corpus-wide "
    "(including within-document repeats) — the positions a "
    "suffix-array pass would mark for removal, without materializing "
    "a suffix array (operators/dedup.repeated_substring_spans). "
    "span_dedup reports WHICH spans repeat; this reports WHERE each "
    "document must be cut — 1-based inclusive token positions. Plan "
    "(r14): two linear shuffles — one gram-digest exchange feeding a "
    "window count (>=2 test, no pair product even on an all-identical "
    "corpus, gram pipeline executed ONCE) and the per-doc "
    "gaps-and-islands window — no join, no self-join anywhere.",
    tags=("datapipe", "dedup", "text", "window"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        repeated_substring_spans,
    )

    return repeated_substring_spans(
        load(spark, sf_dir, "documents"), k=8
    )


@register(
    "dedup_substring_incremental",
    oracle=f"""
    WITH {_SUBSTR_SPANS_CTES_INCR}
    SELECT doc_id, span_start, span_end, span_len FROM spans
    """,
    doc="Admission-time exact substring dedup: spans emitted only for "
    "the NEW ingest batch (source = 'src0', the dedup_incremental "
    "convention), but duplicate counts see the WHOLE corpus — a new "
    "doc is cut where it repeats the existing corpus OR another doc "
    "of its own batch. Completes the incremental family (exact / "
    "minhash / substring). Plan: identical two linear shuffles as "
    "dedup_substring_spans, with the duplicated occurrences "
    "semi-joined to the batch's doc ids before the island window — "
    "the old corpus contributes only gram COUNTS, never window rows, "
    "so island-window state is proportional to the batch, not the "
    "corpus (operators/dedup.repeated_substring_spans target=...).",
    tags=("datapipe", "dedup", "text", "incremental"),
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        repeated_substring_spans,
    )

    return repeated_substring_spans(
        load(spark, sf_dir, "documents"),
        k=8,
        target=F.col("source") == "src0",
    )


@register(
    "doc_substring_dup_ratio",
    oracle=f"""
    WITH {_SUBSTR_SPANS_CTES},
    cov AS (
      SELECT doc_id, sum(span_len)::BIGINT AS covered_tokens
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           len(d.toks)::BIGINT AS n_tokens,
           coalesce(c.covered_tokens, 0)::BIGINT AS covered_tokens,
           CASE WHEN len(d.toks) > 0
                THEN round(coalesce(c.covered_tokens, 0)
                           / len(d.toks)::DOUBLE, 6) + 0.0
           END AS dup_ratio
    FROM d LEFT JOIN cov c USING (doc_id)
    """,
    doc="Per-document repeated-substring coverage ratio: the fraction "
    "of tokens inside some corpus-duplicated >=8-token span — the "
    "quality-filter signal the substring-dedup family feeds a "
    "curation pipeline (drop/downweight docs past a boilerplate "
    "threshold). Spans are maximal and DISJOINT by construction, so "
    "coverage is a plain per-doc sum — no interval arithmetic at "
    "read time. One extra groupBy over the spans frame (tiny) plus "
    "a broadcastable left join back to the corpus.",
    tags=("datapipe", "dedup", "text", "quality"),
)
def doc_substring_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        repeated_substring_spans,
        tokenize,
    )

    d = load(spark, sf_dir, "documents")
    spans = repeated_substring_spans(d, k=8)
    cov = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("covered_tokens")
    )
    toks = d.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    out = toks.join(cov, "doc_id", "left")
    covered = F.coalesce("covered_tokens", F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        covered.alias("covered_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(covered / F.col("n_tokens"), 6) + F.lit(0.0),
        ).alias("dup_ratio"),
    )


@register(
    "dedup_substring_clean",
    oracle=f"""
    WITH {_SUBSTR_SPANS_CTES},
    toks2 AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS pos
      FROM d),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks2 t LEFT JOIN spans s
        ON t.doc_id = s.doc_id
       AND t.pos BETWEEN s.span_start AND s.span_end
      WHERE s.doc_id IS NULL)
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           count(*)::BIGINT AS n_kept
    FROM kept GROUP BY doc_id
    """,
    doc="The CUT half of exact substring dedup (Lee et al. 2022): "
    "every token covered by a duplicated >=8-token span removed, "
    "survivors re-joined in order "
    "(operators/dedup.remove_repeated_substrings). Zero-token and "
    "fully-covered documents emit no row. Plan: spans are maximal "
    "intervals (tiny vs the corpus) so coverage is a LEFT ANTI join "
    "equi-keyed on doc_id with BETWEEN residual; reassembly is one "
    "per-doc sort_array fold, no window.",
    tags=("datapipe", "dedup", "text"),
)
def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        remove_repeated_substrings,
    )

    return remove_repeated_substrings(
        load(spark, sf_dir, "documents"), k=8
    )


@register(
    "knn_graph",
    oracle="""
    WITH nb AS (
      SELECT greatest(4, least(16, ceil(log2(greatest(count(*), 1) / 1024.0))::INT))
        AS bits
      FROM embeddings),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_sum(list_transform(range(1, (SELECT bits FROM nb) + 1),
               i -> CASE WHEN embedding[i] >= 0
                    THEN (1 << (i - 1)) ELSE 0 END))::INT AS bucket
      FROM embeddings
      -- invalid vectors (NULL array, per-element NULL, zero norm)
      -- excluded from both graph sides (mirrors knn_self_join;
      -- engines otherwise disagree: list_cosine_similarity gives
      -- -1.0 on a zero vector, Spark try_divide gives NULL; DuckDB
      -- list_sum SKIPS a NULL element while Spark aggregate
      -- propagates it, so per-element NULLs are excluded explicitly)
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        AND list_sum(list_transform(embedding,
              x -> (x::DOUBLE)*(x::DOUBLE))) > 0)
    SELECT vec_a, vec_b, cos_sim, rk FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                        b.vec_id) AS rk
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
    WHERE rk <= 3
    """,
    doc="Approximate k-NN graph (every vector's top-3 neighbors): the "
    "batch-ANN companion to the single-query top-k — what embedding "
    "dedup clustering and semantic-similarity curation consume. "
    "Candidates restricted to the sign-bit cell (one bucketed "
    "self-equi-join, never N² pairs; cell count auto-scales with "
    "corpus size, operators/similarity.auto_bits, mirrored in the "
    "oracle); per-vector partitioned-window ranking on (rounded sim, "
    "neighbor id) for cross-engine ties "
    "(operators/similarity.knn_self_join).",
    tags=("datapipe", "similarity", "ann"),
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return knn_self_join(e, k=3)  # bits auto-scaled from corpus size


@register(
    "similarity_topk_filtered",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = 0
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), q.qe), 6) + 0.0 AS cos_sim
      FROM embeddings e, q WHERE e.vec_id != 0 AND e.label = 3
        -- NULL/per-element-NULL excluded (valid_embeddings rule)
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0)
    SELECT vec_id, label, cos_sim, rk FROM (
      SELECT vec_id, label, cos_sim,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Filtered vector search: top-k cosine neighbors restricted to "
    "a metadata predicate (label = 3) — the pre-filter form every "
    "vector store needs (post-filtering top-k can return < k rows). "
    "Plan: the label predicate is PUSHED TO THE SCAN (parquet "
    "row-group pruning on the label column at scale) so distances are "
    "computed only for the filtered slice; then the same broadcast-"
    "query / JVM-fold / TakeOrderedAndProject machinery as "
    "similarity_topk.",
    tags=("datapipe", "similarity", "ann"),
)
def similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return cosine_topk(
        e,
        query_id=0,
        k=10,
        where=F.col("label") == 3,
        extra_cols=("label",),
    )


def _pq_sql_dist(sub: int, cid: int) -> str:
    """DuckDB squared-L2 of subvector `sub` vs centroid `cid`, via the
    dot-product identity |a-b|^2 = aa - 2ab + bb (the same three
    sequential folds the Spark side runs, so the double is
    bit-identical before rounding)."""
    a = f"v[{8 * sub + 1}:{8 * sub + 8}]"
    b = f"c{cid}[{8 * sub + 1}:{8 * sub + 8}]"
    return (
        f"round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}), 6)"
    )


def _pq_sql_code(sub: int) -> str:
    d = [f"d{sub}_{i}" for i in range(4)]
    return (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]} THEN 0 "
        f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1 "
        f"WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END"
    )


@register(
    "embedding_pq_codes",
    oracle=f"""
    WITH c AS (
      SELECT
        {", ".join(f"max(CASE WHEN vec_id = {i} THEN list_transform(embedding, x -> x::DOUBLE) END) AS c{i}" for i in range(4))}
      FROM embeddings WHERE vec_id < 4
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    d AS (
      SELECT vec_id,
        {", ".join(f"{_pq_sql_dist(j, i)} AS d{j}_{i}" for j in range(8) for i in range(4))}
      FROM e, c)
    SELECT vec_id,
      {" || ".join(f"({_pq_sql_code(j)})::VARCHAR" for j in range(8))} AS codes,
      ({" + ".join(f"round(least(d{j}_0, d{j}_1, d{j}_2, d{j}_3) * 1000000)::HUGEINT" for j in range(8))})::DOUBLE / 64 / 1000000 AS mse
    FROM d
    """,
    doc="Product quantization: the 64-dim embedding split into 8 "
    "subvectors, each coded as its nearest of 4 codebook entries "
    "(codebook = the first 4 corpus vectors — deterministic seeds, the "
    "k-means-trainable slot like IVF) — 64 floats become 8 2-bit codes "
    "(16 bits/vector, the storage path under int8 affine), plus the "
    "reconstruction MSE. Argmin on 6dp-rounded squared-L2 via the "
    "dot-product identity with fixed-order folds and lowest-id ties, "
    "so both engines pick identical codes. Plan: a single-row codebook "
    "(no collect) broadcast-crossed into one narrow JVM projection — "
    "zero shuffles.",
    tags=("datapipe", "similarity", "quantization"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        valid_embeddings,
    )

    e = valid_embeddings(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    cent = e.filter(F.col("vec_id") < 4).groupBy().agg(
        *[
            F.max(F.when(F.col("vec_id") == i, F.col("v"))).alias(f"c{i}")
            for i in range(4)
        ]
    )
    df = e.crossJoin(F.broadcast(cent))

    def sdot(a: str, b: str, start: int) -> str:
        return (
            f"aggregate(zip_with(slice({a}, {start}, 8), slice({b}, {start}, 8), "
            f"(x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
        )

    for j in range(8):
        st = 8 * j + 1
        for i in range(4):
            d2 = (
                F.expr(sdot("v", "v", st))
                - 2 * F.expr(sdot("v", f"c{i}", st))
                + F.expr(sdot(f"c{i}", f"c{i}", st))
            )
            df = df.withColumn(f"d{j}_{i}", F.round(d2, 6))
    codes = []
    chosen = []
    for j in range(8):
        d = [F.col(f"d{j}_{i}") for i in range(4)]
        code = (
            F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
            .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
            .when(d[2] <= d[3], 2)
            .otherwise(3)
        )
        codes.append(code.cast("string"))
        chosen.append(F.least(*d))
    # each rounded d2 becomes exact integer millionths before the sum:
    # a final round(sum/64, 6) can land on a half-boundary where the
    # engines' double-rounding implementations disagree in the last
    # digit; integer arithmetic + power-of-two division is bit-exact.
    # DECIMAL(38,0) (HUGEINT oracle-side), not LONG: a ~1e6-magnitude
    # outlier vector puts each subvector's millionths near 8e18 and
    # the 8-way sum past int64 — long overflow is an ANSI
    # ArithmeticException here and a BIGINT range error in DuckDB.
    total = F.round(chosen[0] * 1_000_000).cast("decimal(38,0)")
    for c in chosen[1:]:
        total = total + F.round(c * 1_000_000).cast("decimal(38,0)")
    return df.select(
        "vec_id",
        F.concat(*codes).alias("codes"),
        (total.cast("double") / 64 / 1_000_000).alias("mse"),
    )


@register(
    "dedup_semantic_verify",
    oracle=f"""
    WITH {_MINHASH_CTES},
    ev AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
    SELECT c.doc_a, c.doc_b,
           round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cos_sim,
           (round(list_cosine_similarity(a.v, b.v), 6) >= 0.2) AS is_dup
    FROM cand c
    JOIN ev a ON c.doc_a = a.vec_id
    JOIN ev b ON c.doc_b = b.vec_id
    """,
    doc="Cross-modal dedup verification: lexical MinHash-LSH proposes "
    "candidate pairs, the embedding space verifies them — the "
    "candidates ⋈ embeddings ⋈ embeddings composition (doc_id = "
    "vec_id) with a cosine verdict. The standard two-modality pipeline "
    "shape: cheap lexical recall, semantic precision, each modality "
    "catching dups the other misses. Plan: candidate pairs are tiny "
    "relative to the corpus, so both embedding joins shuffle only "
    "|candidates| rows against the (bucketable) embedding table; "
    "cosine is the same JVM fold as the ANN path.",
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_semantic_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        AS_DOUBLE,
        DOT,
    )

    from gmall_realtime_flink_spark.operators.similarity import (
        valid_embeddings,
    )

    d = load(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(d))
    ev = valid_embeddings(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr(AS_DOUBLE.format(c="embedding")).alias("v")
    )
    a = ev.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    b = ev.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    j = cand.join(a, cand["doc_a"] == a["a_id"]).join(
        b, cand["doc_b"] == b["b_id"]
    )
    dot = F.expr(DOT.format(a="va", b="vb"))
    na = F.sqrt(F.expr(DOT.format(a="va", b="va")))
    nb = F.sqrt(F.expr(DOT.format(a="vb", b="vb")))
    # + 0.0 folds IEEE negative zero to positive zero — a cosine
    # that rounds to -0.0 in one engine and 0.0 in the other is the
    # same number but a different string, and the gate hashes strings
    cos = F.round(dot / (na * nb), 6) + F.lit(0.0)
    return j.select(
        "doc_a",
        "doc_b",
        cos.alias("cos_sim"),
        (cos >= 0.2).alias("is_dup"),
    )


# Dynamic-K kmeans training + assignment, the DuckDB transliteration of
# operators/similarity.kmeans_centroids with auto_cells(count) cells
# (the similarity_topk_ivf oracle is the fixed-K=8 form of the same
# chain). Produces CTEs: eall (valid vectors), nk (cell count), cent
# (trained centroids after 2 Lloyd iterations), assign (vec_id, emb,
# cell). ALL cosines — assignment ranking included — use the explicit
# list_dot_product division, which is NULL on a zero norm exactly like
# Spark's try_divide (DuckDB's native list_cosine_similarity returns
# -1.0 on a zero vector: on an exact tie at s = -1.0 the two engines
# could then pick different cells). NULL sims rank last (NULLS LAST +
# cid tiebreak = Spark's max_by((c_sim, -cid)) where a NULL struct
# field always loses).
def _kmeans_dyn_ctes(pred: str = "TRUE") -> str:
    """The kmeans CTE chain scoped to `pred` (a vec_id predicate):
    eall, nk and therefore seeds/centroids/assignment all see only the
    scoped corpus — the incremental entry trains on the PREFIX this
    way while the batch entries use the unscoped default."""
    return _KMEANS_DYN_CTES_TPL.replace("__SCOPE__", pred)


_KMEANS_DYN_CTES_TPL = """
    eall AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        AND (__SCOPE__)),
    nk AS (
      SELECT greatest(8, least(4096, ceil(count(*) / 1024.0)::INT)) AS k
      FROM embeddings WHERE (__SCOPE__)),
    cent0 AS (
      SELECT vec_id AS cid, emb AS cvec FROM eall
      WHERE vec_id < (SELECT k FROM nk)),
    -- assignment windows are kept NARROW: DuckDB's window operator
    -- materializes+sorts its whole INPUT — including every column its
    -- ORDER BY expression references — so the similarity is computed
    -- in a projection BELOW the window (the window sees only
    -- (vec_id, cid, s)) and emb is joined back after rn=1. With the
    -- sim inline in ORDER BY, the N*K window input carried the
    -- 64-double emb+cvec payloads: ~39 GB spill at sf10, tier killed
    -- on disk twice. Same rows, same semantics.
    r1 AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM eall e, cent0 c)) WHERE rn = 1),
    a1 AS (
      SELECT e.vec_id, e.emb, r.cell FROM eall e
      JOIN r1 r ON e.vec_id = r.vec_id),
    m1 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a1)
      GROUP BY cell, pos),
    cent1 AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent0 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m1 GROUP BY cell
      ) m ON c.cid = m.cell),
    r2 AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM eall e, cent1 c)) WHERE rn = 1),
    a2 AS (
      SELECT e.vec_id, e.emb, r.cell FROM eall e
      JOIN r2 r ON e.vec_id = r.vec_id),
    m2 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a2)
      GROUP BY cell, pos),
    cent AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent1 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m2 GROUP BY cell
      ) m ON c.cid = m.cell),
    ra AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM eall e, cent c)) WHERE rn = 1),
    assign AS (
      SELECT e.vec_id, e.emb, r.cell FROM eall e
      JOIN ra r ON e.vec_id = r.vec_id)
"""

_KMEANS_DYN_CTES = _kmeans_dyn_ctes()


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_KMEANS_DYN_CTES},
    mls AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0)
               AS max_lower_sim
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id)
    SELECT s.vec_id, s.cell, m.max_lower_sim,
           coalesce(m.max_lower_sim < 0.4, TRUE) AS kept
    FROM assign s LEFT JOIN mls m ON s.vec_id = m.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023): embedding-space semantic dedup "
    "— kmeans-cluster the corpus (auto-scaled cell count, ~n/1024, "
    "2 deterministic Lloyd iterations — the IVF training), pairwise "
    "cosine ONLY within cells, keep one representative per "
    "near-identical group (dropped iff a lower-id cell-mate has "
    "cosine >= 0.4). Output is the per-vector verdict (vec_id, cell, "
    "max_lower_sim, kept). The expr fold is the oracle surface; "
    "semantic_dedup_numpy is the BLAS production twin (parity-pinned, "
    "benched). Completes the dedup ladder: exact / MinHash / PPJoin / "
    "substring are lexical, this is the semantic tier.",
    tags=("datapipe", "dedup", "similarity", "kmeans"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.4)  # cells auto-scaled


# hot-cell cap: 2× auto_cells' per-cell design target (1024). A cell
# at twice the target only exists when the corpus is cluster-skewed —
# the driver corpora's i.i.d. embeddings keep every cell within ~7% of
# target, so the capped twin is hash-identical to the uncapped entry
# there, while the skewed-emb corpus (Zipf cluster sizes, top cluster
# >20% of the corpus) trips it on exactly the cells whose quadratic
# pair block would dominate the stage.
SEMDEDUP_CAP = 2048


@register(
    "dedup_semantic_capped",
    oracle=f"""
    WITH {_KMEANS_DYN_CTES},
    cellct AS (
      SELECT cell, count(*) AS ct FROM assign GROUP BY cell),
    -- the symbolic cap (dedup_minhash_lsh_capped's HAVING
    -- pattern): only cells of <= {SEMDEDUP_CAP} members enter the
    -- quadratic in-cell pair block
    small AS (SELECT cell FROM cellct WHERE ct <= {SEMDEDUP_CAP}),
    mls AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0)
               AS max_lower_sim
      FROM assign a
      JOIN small sm ON a.cell = sm.cell
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id)
    SELECT s.vec_id, s.cell, m.max_lower_sim,
           coalesce(m.max_lower_sim < 0.4, TRUE) AS kept,
           (c.ct > {SEMDEDUP_CAP}) AS cell_capped
    FROM assign s
    JOIN cellct c ON s.cell = c.cell
    LEFT JOIN mls m ON s.vec_id = m.vec_id
    """,
    doc="SemDeDup with the hot-cell insurance (VERDICT r10 item 2): "
    "the in-cell pair block is quadratic PER CELL, and auto_cells' "
    "~1024-member design target only holds when the embedding space "
    "is balanced — a boilerplate-dominated corpus piles a template "
    f"cluster into one cell. Cells above {SEMDEDUP_CAP} members "
    "(2× target) are excluded from the pair stage; their members "
    "keep kept=TRUE verdicts flagged cell_capped=TRUE — honest "
    "not-deduped, routable to a re-split pass — exactly the "
    "max_bucket guard of the lexical LSH family, mirrored "
    "symbolically in the oracle (HAVING ct <= cap) so the entry is "
    "hash-exact at every SF. On the driver corpora no cell trips the "
    "cap (verdicts identical to dedup_semantic); the skewed-emb "
    "corpus measures the degradation "
    "(tools/measure_semdedup_skew.py).",
    tags=("datapipe", "dedup", "similarity", "kmeans", "production",
          "scale"),
)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.4, max_cell=SEMDEDUP_CAP)


# Second-level kmeans over the HOT population (members of cells above
# the cap), transliterating operators/similarity.semantic_dedup_resplit:
# rank seeds (the k2 lowest vec_ids of the scoped subset — vec_id < K
# can't apply to arbitrary member ids), then the same two deterministic
# Lloyd iterations as the level-1 template, every CTE renamed with an
# `h` prefix so both chains coexist in one query. Windows stay NARROW
# (sim below the window, emb joined back after rn=1) for the same
# DuckDB-spill reason documented on the level-1 template.
_KMEANS2_HOT_CTES = f"""
    hot AS (
      SELECT a.vec_id, a.emb, a.cell FROM assign a
      JOIN cellct c ON a.cell = c.cell WHERE c.ct > {SEMDEDUP_CAP}),
    hnk AS (
      SELECT greatest(8, least(4096, ceil(count(*) / 1024.0)::INT)) AS k
      FROM hot),
    hcent0 AS (
      SELECT vec_id AS cid, emb AS cvec FROM (
        SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) AS rn
        FROM hot) WHERE rn <= (SELECT k FROM hnk)),
    hr1 AS (
      SELECT vec_id, cid AS subcell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM hot e, hcent0 c)) WHERE rn = 1),
    ha1 AS (
      SELECT e.vec_id, e.emb, r.subcell FROM hot e
      JOIN hr1 r ON e.vec_id = r.vec_id),
    hm1 AS (
      SELECT subcell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT subcell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM ha1)
      GROUP BY subcell, pos),
    hcent1 AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM hcent0 c LEFT JOIN (
        SELECT subcell, list(m ORDER BY pos) AS mvec FROM hm1
        GROUP BY subcell
      ) m ON c.cid = m.subcell),
    hr2 AS (
      SELECT vec_id, cid AS subcell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM hot e, hcent1 c)) WHERE rn = 1),
    ha2 AS (
      SELECT e.vec_id, e.emb, r.subcell FROM hot e
      JOIN hr2 r ON e.vec_id = r.vec_id),
    hm2 AS (
      SELECT subcell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT subcell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM ha2)
      GROUP BY subcell, pos),
    hcent AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM hcent1 c LEFT JOIN (
        SELECT subcell, list(m ORDER BY pos) AS mvec FROM hm2
        GROUP BY subcell
      ) m ON c.cid = m.subcell),
    hra AS (
      SELECT vec_id, cid AS subcell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM hot e, hcent c)) WHERE rn = 1),
    assign2 AS (
      SELECT e.vec_id, e.emb, e.cell, r.subcell FROM hot e
      JOIN hra r ON e.vec_id = r.vec_id)
"""


@register(
    "dedup_semantic_resplit",
    oracle=f"""
    WITH {_KMEANS_DYN_CTES},
    cellct AS (
      SELECT cell, count(*) AS ct FROM assign GROUP BY cell),
    small AS (SELECT cell FROM cellct WHERE ct <= {SEMDEDUP_CAP}),
    mls AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0)
               AS max_lower_sim
      FROM assign a
      JOIN small sm ON a.cell = sm.cell
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id),
    {_KMEANS2_HOT_CTES},
    sct AS (
      SELECT cell, subcell, count(*) AS ct FROM assign2
      GROUP BY cell, subcell),
    ssmall AS (
      SELECT cell, subcell FROM sct WHERE ct <= {SEMDEDUP_CAP}),
    mls2 AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0)
               AS max_lower_sim
      FROM assign2 a
      JOIN ssmall sm ON a.cell = sm.cell AND a.subcell = sm.subcell
      JOIN assign2 b ON a.cell = b.cell AND a.subcell = b.subcell
        AND a.vec_id < b.vec_id
      GROUP BY b.vec_id)
    SELECT s.vec_id, s.cell, CAST(NULL AS BIGINT) AS subcell,
           m.max_lower_sim,
           coalesce(m.max_lower_sim < 0.4, TRUE) AS kept,
           FALSE AS cell_capped
    FROM assign s
    JOIN small sm ON s.cell = sm.cell
    LEFT JOIN mls m ON s.vec_id = m.vec_id
    UNION ALL
    SELECT a.vec_id, a.cell, a.subcell, m.max_lower_sim,
           coalesce(m.max_lower_sim < 0.4, TRUE) AS kept,
           (c.ct > {SEMDEDUP_CAP}) AS cell_capped
    FROM assign2 a
    JOIN sct c ON a.cell = c.cell AND a.subcell = c.subcell
    LEFT JOIN mls2 m ON a.vec_id = m.vec_id
    """,
    doc="SemDeDup hot-cell RE-SPLIT (VERDICT r11 item 3): the capped "
    "twin honestly forgoes dedup inside over-cap cells — 13.4% of "
    "the skew-sf1 corpus, 2,684 lost drops (SEMDEDUP_SKEW_r11) — "
    "and flags the members routable. This entry routes them: hot "
    "members are re-clustered by a SECOND deterministic kmeans "
    "(auto_cells over the hot population, rank seeds = its k2 "
    "lowest vec_ids) and the pairwise verdict runs within "
    "(cell, subcell) blocks; still-over-cap sub-blocks stay flagged "
    "(never silently quadratic). Small-cell verdicts bit-identical "
    "to dedup_semantic; subcell NULL marks them. Two-level symbolic "
    "oracle: the level-1 kmeans CTE chain composed with an "
    "h-prefixed level-2 chain reading the hot members off `assign` "
    "(operators/similarity.semantic_dedup_resplit).",
    tags=("datapipe", "dedup", "similarity", "kmeans", "production",
          "scale"),
)
def dedup_semantic_resplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup_resplit,
    )

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup_resplit(e, threshold=0.4, max_cell=SEMDEDUP_CAP)


# query set for the batch-ANN entries: the Q lowest valid vec_ids —
# the rank rule (row_number over vec_id), not `vec_id < Q` (arbitrary
# id spaces: the adversarial corpus shifts ids past fixed windows)
_BATCH_QUERIES = """
    q AS (
      SELECT vec_id AS q_id, emb AS qe FROM (
        SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) AS rn
        FROM eall) WHERE rn <= 8)
"""

_COS_EXPR = (
    "round(list_dot_product({a}, {b}) /"
    " (sqrt(list_dot_product({a}, {a})) *"
    "  sqrt(list_dot_product({b}, {b}))), 6) + 0.0"
)


@register(
    "similarity_topk_batch",
    oracle=f"""
    WITH eall AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    {_BATCH_QUERIES},
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_COS_EXPR.format(a="e.emb", b="q.qe")} AS cos_sim
      FROM eall e, q WHERE e.vec_id != q.q_id)
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC NULLS LAST, vec_id) AS rk
      FROM scored) WHERE rk <= 10
    """,
    doc="Brute-force MULTI-QUERY exact top-k — the query-batch form "
    "of similarity_topk (retrieval evals, hard-negative mining and "
    "kNN audits arrive as query batches, not single probes): the 8 "
    "lowest valid vec_ids broadcast once and ONE fused pass scans "
    "the corpus for all of them. Ranking is the two-phase per-query "
    "top-k — a (q_id, partition) local rank before the global one — "
    "never a Q-reducer global window "
    "(operators/similarity.cosine_topk_batch).",
    tags=("similarity", "ann", "datapipe"),
)
def similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        cosine_topk_batch,
    )

    e = load(spark, sf_dir, "embeddings")
    return cosine_topk_batch(e, n_queries=8, k=10)


@register(
    "similarity_topk_ivf_batch",
    oracle=f"""
    WITH {_KMEANS_DYN_CTES},
    {_BATCH_QUERIES},
    qc AS (
      SELECT q_id, cid FROM (
        SELECT q.q_id, c.cid,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_COS_EXPR.format(a="q.qe", b="c.cvec")}
                          DESC NULLS LAST, c.cid) AS rn
        FROM q, cent c) WHERE rn <= 2),
    scored AS (
      SELECT qc.q_id, a.vec_id,
             {_COS_EXPR.format(a="a.emb", b="q.qe")} AS cos_sim
      FROM assign a
      JOIN qc ON a.cell = qc.cid
      JOIN q ON q.q_id = qc.q_id
      WHERE a.vec_id != qc.q_id)
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC NULLS LAST, vec_id) AS rk
      FROM scored) WHERE rk <= 10
    """,
    doc="IVF MULTI-QUERY top-k with a reusable index — the train-once "
    "/ probe-many form single-query similarity_topk_ivf can't "
    "express: dynamic-K kmeans (auto_cells, the SemDeDup oracle's "
    "transliterated chain) trains ONCE, every query ranks the K "
    "centroids (Q×K broadcast cross), probes its nprobe=2 cells via "
    "an EQUI-join on cell (partition pruning at scale), and the "
    "fused cosine kernel + two-phase per-query top-k finish. The "
    "probe-many economics vs brute is measured by "
    "tools/measure_ivf_breakeven.py "
    "(operators/similarity.cosine_topk_ivf_batch).",
    tags=("similarity", "ann", "ivf", "kmeans", "datapipe"),
)
def similarity_topk_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        cosine_topk_ivf_batch,
    )

    e = load(spark, sf_dir, "embeddings")
    return cosine_topk_ivf_batch(e, n_queries=8, k=10, nprobe=2)


@register(
    "dedup_semantic_incremental",
    oracle=f"""
    WITH split AS (
      SELECT CAST(ceil(0.9 * count(*)) AS BIGINT) AS s FROM embeddings),
    {_kmeans_dyn_ctes("vec_id < (SELECT s FROM split)")},
    pmls AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0) AS mls
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id),
    -- prefix SURVIVORS: production stores only kept representatives
    surv AS (
      SELECT p.vec_id, p.cell, p.emb
      FROM assign p LEFT JOIN pmls m ON p.vec_id = m.vec_id
      WHERE coalesce(m.mls < 0.4, TRUE)),
    enew AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        AND vec_id >= (SELECT s FROM split)),
    -- frozen-centroid assignment of the new batch (same narrow-window
    -- + NULL-safe-division shape as the training windows)
    nra AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC NULLS LAST, cid) AS rn
        FROM (SELECT e.vec_id, c.cid,
                     round(list_dot_product(e.emb, c.cvec) /
                       (sqrt(list_dot_product(e.emb, e.emb)) *
                        sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
              FROM enew e, cent c)) WHERE rn = 1),
    nassign AS (
      SELECT e.vec_id, e.emb, r.cell FROM enew e
      JOIN nra r ON e.vec_id = r.vec_id),
    comp AS (
      SELECT vec_id, cell, emb FROM surv
      UNION ALL
      SELECT vec_id, cell, emb FROM nassign),
    nmls AS (
      SELECT b.vec_id,
             max(round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) + 0.0)
               AS max_lower_sim
      FROM comp a JOIN nassign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id)
    SELECT n.vec_id, n.cell, m.max_lower_sim,
           coalesce(m.max_lower_sim < 0.4, TRUE) AS kept
    FROM nassign n LEFT JOIN nmls m ON n.vec_id = m.vec_id
    """,
    doc="Admission-time SemDeDup (VERDICT r10 item 5) — the "
    "incremental form every other dedup family has: centroids are "
    "trained on the corpus PREFIX only (vec_id < ceil(0.9·n), the "
    "dedup_incremental id-split convention) and FROZEN; the new top "
    "decile is assigned by a pure broadcast-K scan and admitted "
    "against the prefix's SURVIVORS (production stores only kept "
    "representatives) plus lower-id vectors of its own batch (the "
    "dedup_substring_incremental own-batch convention). Steady-state "
    "ingest cost is |batch|·K + the batch's in-cell pairs — linear "
    "in the batch, never re-verdicting the stored corpus "
    "(operators/similarity.semantic_dedup_incremental).",
    tags=("datapipe", "dedup", "similarity", "kmeans", "incremental"),
)
def dedup_semantic_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup_incremental(e, threshold=0.4, split_frac=0.9)


# ---------------------------------------------------------------------------
# Incremental and graph dedup, recall diagnostics, hard negatives
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents)
    SELECT n.doc_id, n.fingerprint
    FROM fp n
    WHERE n.source = 'src0'
      AND NOT EXISTS (
        SELECT 1 FROM fp c
        WHERE c.source <> 'src0' AND c.fingerprint = n.fingerprint)
    """,
    doc="Incremental dedup: admit a NEW ingest batch (source = src0) "
    "only where its content fingerprint is absent from the existing "
    "corpus (every other source) — a LEFT ANTI join on the normalized "
    "md5. The daily-ingest shape of dedup_exact: at 100 TB the corpus "
    "side is a fingerprint-only column scan (16 bytes/doc), the anti "
    "join shuffles on a uniform 128-bit key (skew-free), and AQE "
    "broadcasts the new batch when it is the small side.",
    tags=("datapipe", "dedup"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    fp = d.select(
        "doc_id", "source", F.md5(normalized).alias("fingerprint")
    )
    new = fp.filter(F.col("source") == "src0")
    corpus = fp.filter(F.col("source") != "src0").select("fingerprint")
    return new.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@register(
    "dedup_pagerank",
    oracle=f"""
    WITH {_MINHASH_CTES},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
              UNION ALL SELECT doc_b, doc_a FROM cand),
    deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    r0 AS (SELECT s AS id, 1000000000000::BIGINT AS r FROM deg),
    i1 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(r0.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN r0 ON e.s = r0.id JOIN deg g ON e.s = g.s
           GROUP BY e.d),
    i2 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(i1.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN i1 ON e.s = i1.id JOIN deg g ON e.s = g.s
           GROUP BY e.d),
    i3 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(i2.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN i2 ON e.s = i2.id JOIN deg g ON e.s = g.s
           GROUP BY e.d)
    SELECT id AS doc_id, r AS pagerank_e12 FROM i3
    """,
    doc="PageRank (3 fixed iterations, damping 0.85) over the "
    "MinHash-LSH near-dup graph — centrality-based canonical-document "
    "selection: inside a dup cluster, keep the doc most linked to the "
    "rest. All arithmetic is INTEGER (ranks scaled by 1e12, floor "
    "divisions) so both engines agree bit-for-bit; a float PageRank "
    "would diverge in summation order. Plan: per iteration one join "
    "of edges→ranks (shuffle on node id, |edges| rows) + one "
    "aggregation — the standard distributed PageRank step; fixed "
    "iteration count keeps the driver loop bounded and "
    "resume-deterministic.",
    tags=("datapipe", "dedup", "graph", "iterative"),
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(d))
    return _integer_pagerank(cand)


def _integer_pagerank(cand: DataFrame) -> DataFrame:
    """3 fixed iterations of damping-0.85 PageRank over an undirected
    candidate-pair graph, all-integer (ranks scaled by 1e12) so both
    engines agree bit-for-bit."""
    # r13: every unrolled iteration's plan embeds the full candidate-
    # generation lineage (signatures -> banding -> self-join), so the
    # LSH pipeline ran 4+ times per action; a LAZY localCheckpoint
    # materializes the pair list once INSIDE the first timed action
    # and the deg/edges/iteration branches all read the stored copy
    # (guide §5 — cut lineage; lazy so no work moves outside the
    # timed region, and a fresh builder invocation always recomputes
    # from parquet).
    cand = cand.transform(cut_lineage)
    edges = cand.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        cand.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "s").transform(cut_lineage)
    rank = deg.select(F.col("s").alias("id"), F.lit(10**12).alias("r"))
    for _ in range(3):
        contrib = edges_deg.join(rank, edges_deg["s"] == rank["id"]).select(
            F.col("d").alias("id"), F.expr("r div deg").alias("c")
        )
        # sum in DECIMAL(38,0): a hub with in-degree ~1e5 would push
        # 85 * sum(c) past int64 (DuckDB's HUGEINT sum is exact, so a
        # bigint overflow here breaks parity exactly where the graph
        # is most interesting); FLOOR == floor-div for nonnegatives
        rank = contrib.groupBy("id").agg(
            F.expr(
                "CAST(150000000000 + FLOOR((85 * sum(CAST(c AS DECIMAL(38,0))))"
                " / 100) AS BIGINT)"
            ).alias("r")
        )
    return rank.select(F.col("id").alias("doc_id"), F.col("r").alias("pagerank_e12"))


_CAPPED_CAND_CTES = """
    small AS (
      SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 8),
    capped_bands AS (
      SELECT b.doc_id, b.band, b.bh
      FROM bands b JOIN small s ON b.band = s.band AND b.bh = s.bh),
    ccand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped_bands a JOIN capped_bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
"""


@register(
    "dedup_pagerank_capped",
    oracle=f"""
    WITH {_MINHASH_CTES},
    {_CAPPED_CAND_CTES},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM ccand
              UNION ALL SELECT doc_b, doc_a FROM ccand),
    deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    r0 AS (SELECT s AS id, 1000000000000::BIGINT AS r FROM deg),
    i1 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(r0.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN r0 ON e.s = r0.id JOIN deg g ON e.s = g.s
           GROUP BY e.d),
    i2 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(i1.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN i1 ON e.s = i1.id JOIN deg g ON e.s = g.s
           GROUP BY e.d),
    i3 AS (SELECT e.d AS id,
                  (150000000000 + (85 * sum(i2.r // g.deg)) // 100)::BIGINT AS r
           FROM edges e JOIN i2 ON e.s = i2.id JOIN deg g ON e.s = g.s
           GROUP BY e.d)
    SELECT id AS doc_id, r AS pagerank_e12 FROM i3
    """,
    doc="The PRODUCTION canonical-selection posture: the same "
    "integer-exact 3-iteration PageRank as dedup_pagerank, but over "
    "the max_bucket-CAPPED LSH candidate graph (the guard every "
    "production dedup path runs, dedup_minhash_lsh_capped). This is "
    "what bounds the edge set on degenerate corpora — the uncapped "
    "graph at sf10 is ~400M edges and task-OOMs any single box, while "
    "the capped graph stays near-linear in docs; the cap is mirrored "
    "symbolically in the DuckDB oracle so the entry stays hash-gated. "
    "At 100 TB the per-iteration cost is one |edges| shuffle keyed by "
    "node id — PageRank's floor — and the cap guarantees |edges| ~ "
    "O(docs x cap), not O(docs^2).",
    tags=("datapipe", "dedup", "graph", "iterative", "scale"),
)
def dedup_pagerank_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(d), max_bucket=8)
    return _integer_pagerank(cand)


@register(
    "similarity_recall_at_k",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = 0
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    scored_e AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), q.qe), 6) + 0.0 AS cos_sim
      FROM embeddings e, q WHERE e.vec_id != 0
        -- NULL/per-element-NULL excluded (valid_embeddings rule)
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0),
    exact AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
        FROM scored_e) WHERE rk <= 10),
    bkt AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> x::DOUBLE) AS de, q.qe,
             (CASE WHEN e.embedding[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN e.embedding[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN e.embedding[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN e.embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket,
             (CASE WHEN q.qe[1] >= 0 THEN 1 ELSE 0 END
              + CASE WHEN q.qe[2] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN q.qe[3] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN q.qe[4] >= 0 THEN 8 ELSE 0 END) AS q_bucket
      FROM embeddings e, q WHERE e.vec_id != 0
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0),
    scored_b AS (
      SELECT vec_id, round(list_cosine_similarity(de, qe), 6) + 0.0 AS cos_sim
      FROM bkt WHERE bucket = q_bucket),
    ann AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
        FROM scored_b) WHERE rk <= 10)
    SELECT 10 AS k,
           count(*)::BIGINT AS hits,
           round(count(*) / 10.0, 6) AS recall_at_k
    FROM exact JOIN ann USING (vec_id)
    """,
    doc="ANN quality audit through the correctness gate: recall@10 of "
    "the sign-bucket ANN against the exact brute-force top-k — the "
    "number an ANN deployment is judged by, computed as a query (the "
    "property-test analogues live in tests/test_properties.py). Both "
    "top-k sides are k-row frames, the semi join is trivial; at 100 TB "
    "you run this on a sampled query set to tune bits/nprobe before "
    "trusting the index.",
    tags=("datapipe", "similarity", "ann", "diagnostics"),
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    exact = cosine_topk(e, query_id=0, k=10).select("vec_id")
    ann = cosine_topk_bucketed(e, query_id=0, k=10, bits=4).select("vec_id")
    hits = exact.join(ann, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        F.col("hits"),
        F.round(F.col("hits") / 10.0, 6).alias("recall_at_k"),
    )


# Shared by the IVF recall-curve oracle: deterministic 2-iteration
# Lloyd training (seed = first K vectors, exact-decimal means) — the
# same CTE chain as the similarity_topk_ivf oracle above.
_IVF_TRAINED_CENT_SQL = """
    eall AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      -- NULL/per-element-NULL/NON-FINITE vectors excluded (valid_embeddings rule)
      WHERE len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
    cent0 AS (SELECT vec_id AS cid, emb AS cvec FROM eall WHERE vec_id < 8),
    a1 AS (
      SELECT vec_id, emb, cid AS cell FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM eall e, cent0 c) WHERE rn = 1),
    m1 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a1)
      GROUP BY cell, pos),
    cent1 AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent0 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m1 GROUP BY cell
      ) m ON c.cid = m.cell),
    a2 AS (
      SELECT vec_id, emb, cid AS cell FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM eall e, cent1 c) WHERE rn = 1),
    m2 AS (
      SELECT cell, pos,
             sum(CAST(v AS DECIMAL(38,12)))::DOUBLE / count(*) AS m
      FROM (SELECT cell, unnest(emb) AS v,
                   unnest(generate_series(1, len(emb))) AS pos
            FROM a2)
      GROUP BY cell, pos),
    cent AS (
      SELECT c.cid, coalesce(m.mvec, c.cvec) AS cvec
      FROM cent1 c LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS mvec FROM m2 GROUP BY cell
      ) m ON c.cid = m.cell)"""


def _ivf_recall_curve_oracle(nprobes=(1, 2, 4), k=10) -> str:
    probe_ctes = []
    for n in nprobes:
        probe_ctes.append(f"""
    qc{n} AS (
      SELECT cid FROM (
        SELECT c.cid, row_number() OVER (
          ORDER BY round(list_cosine_similarity(q.qe, c.cvec), 6)
                   DESC, c.cid) AS rn
        FROM cent c, q) WHERE rn <= {n}),
    ann{n} AS (
      SELECT vec_id FROM (
        SELECT a.vec_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(a.emb, q.qe), 6)
                          DESC, a.vec_id) AS rk
        FROM assign a, q
        WHERE a.cell IN (SELECT cid FROM qc{n})) WHERE rk <= {k}),
    r{n} AS (
      SELECT {n} AS nprobe, {k} AS k, count(*)::BIGINT AS hits,
             round(count(*) / {k}.0, 6) AS recall_at_k
      FROM exact JOIN ann{n} USING (vec_id))""")
    union = " UNION ALL ".join(f"SELECT * FROM r{n}" for n in nprobes)
    return f"""
    WITH {_IVF_TRAINED_CENT_SQL},
    e AS (SELECT vec_id, emb FROM eall WHERE vec_id != 0),
    assign AS (
      SELECT vec_id, cid AS cell, emb FROM (
        SELECT e.vec_id, c.cid, e.emb,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cvec), 6)
                          DESC, c.cid) AS rn
        FROM e, cent c) WHERE rn = 1),
    q AS (SELECT emb AS qe FROM eall WHERE vec_id = 0),
    exact AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(e.emb, q.qe), 6)
                          DESC, e.vec_id) AS rk
        FROM e, q) WHERE rk <= {k}),
    {",".join(probe_ctes)}
    {union}
    """


@register(
    "similarity_recall_curve",
    oracle=_ivf_recall_curve_oracle(),
    doc="Recall-vs-nprobe curve for the trained IVF index: recall@10 "
    "at nprobe 1/2/4 against the exact brute-force top-k, one row per "
    "probe width (operators/similarity.ivf_recall_curve). Proves the "
    "documented nprobe recall/cost dial with numbers — recall is "
    "monotone in nprobe (each probe set is a superset of the last). "
    "The index is built once (localCheckpoint); each curve point is a "
    "broadcast semi-join + k-row top-k. The CTE chain recomputes the "
    "identical deterministic Lloyd iterations as similarity_topk_ivf.",
    tags=("datapipe", "similarity", "ann", "ivf", "diagnostics"),
)
def similarity_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        ivf_recall_curve,
    )

    e = load(spark, sf_dir, "embeddings")
    return ivf_recall_curve(
        e, query_id=0, k=10, n_cells=8, nprobes=(1, 2, 4), train_iters=2
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    nodes AS (SELECT doc_a AS id FROM cand UNION SELECT doc_b FROM cand),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id),
    dropped AS (
      SELECT id FROM reach GROUP BY id HAVING id <> min(r))
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.id = d.doc_id)
    """,
    doc="THE deduped corpus — the end artifact the whole near-dup "
    "pipeline exists to produce: every document minus non-canonical "
    "near-dup cluster members (docs outside the candidate graph "
    "survive untouched; inside a cluster, the min-id canonical "
    "survives). Composition: signatures -> banded LSH candidates -> "
    "connected components -> LEFT ANTI join of the corpus against "
    "the dropped set. Plan: the anti join probes at |corpus| rows "
    "against a |cluster-members|-sized build side (tiny, broadcast); "
    "everything upstream is the already-audited LSH/cluster path.",
    tags=("datapipe", "dedup", "pipeline"),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        connected_components,
    )

    d = load(spark, sf_dir, "documents")
    clusters = connected_components(lsh_candidates(minhash_signatures(d)))
    dropped = clusters.filter(~F.col("is_canonical")).select(
        F.col("doc_id").alias("dropped_id")
    )
    return d.join(
        dropped, d["doc_id"] == dropped["dropped_id"], "left_anti"
    ).select("doc_id", "lang", "source")


@register(
    "dedup_jaccard_complete",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1])) AS sset
      FROM d WHERE len(toks) >= 3),
    sz AS (SELECT doc_id, len(sset)::BIGINT AS n FROM sets),
    post AS (SELECT doc_id, unnest(sset) AS sh FROM sets),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
      FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    -- all-pairs semantics: pairs sharing ZERO shingles have J = 0 and
    -- can never reach a positive threshold, so the postings equi-join
    -- (|A inter B| by shared-shingle count) is exactly the brute-force
    -- result for t > 0 — and ~70x cheaper than list_intersect over the
    -- quadratic product (measured 597.6s -> 8.2s at sf0.1)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(i::DOUBLE / (x.n + y.n - i), 6) AS jaccard
      FROM inter JOIN sz x ON inter.doc_a = x.doc_id
                 JOIN sz y ON inter.doc_b = y.doc_id
    ) WHERE jaccard >= 0.8
    """,
    doc="COMPLETE exact similarity self-join (every pair with 2-gram "
    "Jaccard >= 0.8) via prefix filtering (All-Pairs/PPJoin — Bayardo "
    "et al. WWW'07): deterministic recall 1.0, the alternative to "
    "MinHash-LSH when missing a duplicate is not acceptable. The "
    "ORACLE is brute-force all-pairs — the engine's "
    "rarest-token-prefix join + candidate-only verify must equal it "
    "exactly, which is precisely the prefix-filter completeness "
    "lemma. Plan: df-count shuffle, per-doc rank window, self-join "
    "on prefix tokens (rare tokens => near-linear pair volume), "
    "exact verify on candidates only — the all-pairs product exists "
    "ONLY in the oracle, never in the engine "
    "(operators/dedup.prefix_filter_candidates). The threshold IS "
    "the scale knob: prefix length = sz - ceil(t*sz) + 1, so t=0.8 "
    "prefixes are ~20% of each set (9.6M candidate pairs at t=0.2 "
    "on sf0.1's 31-word vocabulary vs ~0.4M at t=0.8); completeness "
    "at low t on degenerate vocabularies costs what it must — use "
    "LSH there and accept probabilistic recall.",
    tags=("datapipe", "dedup", "jaccard", "scale"),
)
def dedup_jaccard_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        jaccard_verify,
        prefix_filter_candidates,
    )

    d = load(spark, sf_dir, "documents")
    cand = prefix_filter_candidates(d, threshold=0.8)
    return jaccard_verify(cand, d, threshold=0.8)


@register(
    "dedup_jaccard_complete_capped",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1])) AS sset
      FROM d WHERE len(toks) >= 3),
    tok AS (
      SELECT doc_id, len(sset)::BIGINT AS sz, unnest(sset) AS sh FROM sets),
    dfreq AS (SELECT sh, count(*)::BIGINT AS df FROM tok GROUP BY sh),
    ranked AS (
      SELECT t.doc_id, t.sz, t.sh, f.df,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.sh)
               AS pos
      FROM tok t JOIN dfreq f ON t.sh = f.sh),
    prefix AS (
      SELECT doc_id, sz, sh FROM ranked
      WHERE pos <= sz - ((799999 * sz + 999999) // 1000000) + 1
        AND df <= 50),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
       AND least(a.sz, b.sz) * 1000000 >= 799999 * greatest(a.sz, b.sz))
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             round(len(list_intersect(x.sset, y.sset))::DOUBLE
                   / len(list_distinct(x.sset || y.sset)), 6) AS jaccard
      FROM cand c JOIN sets x ON c.doc_a = x.doc_id
                  JOIN sets y ON c.doc_b = y.doc_id
    ) WHERE jaccard >= 0.8
    """,
    doc="The PRODUCTION similarity-join posture: prefix filtering with "
    "the max_df=50 hot-token cap — any token's pair contribution is "
    "bounded at max_df(max_df-1)/2 regardless of corpus pathology. "
    "Unlike LSH's probabilistic recall loss the degradation is exact "
    "and enumerable (completeness is lost ONLY for pairs whose every "
    "shared prefix token is hot), so the DuckDB oracle mirrors the "
    "cap symbolically — same integer prefix-length ceil at the "
    "guarded threshold, same df cutoff, same length-ratio filter — "
    "and the hash gate doubles as a cross-engine proof that the "
    "capped semantics (not just the ideal ones) are implemented "
    "exactly. Positional filter deliberately disabled under the cap "
    "(its first-common-token bound may reference a dropped token — "
    "operators/dedup.prefix_filter_candidates).",
    tags=("datapipe", "dedup", "jaccard", "scale", "production"),
)
def dedup_jaccard_complete_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        jaccard_verify,
        prefix_filter_candidates,
    )

    d = load(spark, sf_dir, "documents")
    cand = prefix_filter_candidates(d, threshold=0.8, max_df=50)
    return jaccard_verify(cand, d, threshold=0.8)


@register(
    "contrastive_hard_negatives",
    oracle="""
    WITH nb AS (
      SELECT greatest(4, least(16, ceil(log2(greatest(count(*), 1) / 1024.0))::INT))
        AS bits
      FROM embeddings),
    e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_sum(list_transform(range(1, (SELECT bits FROM nb) + 1),
               i -> CASE WHEN embedding[i] >= 0
                    THEN (1 << (i - 1)) ELSE 0 END))::INT AS bucket
      FROM embeddings
      -- zero-norm / NULL / per-element-NULL vectors excluded
      -- (see knn_graph oracle note)
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        AND list_sum(list_transform(embedding,
              x -> (x::DOUBLE)*(x::DOUBLE))) > 0)
    SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim, rk
    FROM (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                        b.vec_id) AS rk
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.label <> b.label)
    WHERE rk <= 3
    """,
    doc="Contrastive hard-negative mining: every anchor's top-3 "
    "most-similar DIFFERENT-label vectors — the training-pair "
    "primitive of contrastive / metric learning (random negatives "
    "are easy; hard ones sit near the boundary: high cosine, other "
    "class). Candidates restricted to the sign-bit cell (cell count "
    "auto-scales with corpus size, operators/similarity.auto_bits, "
    "mirrored in the oracle) — which is "
    "the right recall trade by construction: an out-of-cell vector "
    "is far away and never a hard negative. One bucketed "
    "self-equi-join, per-vector norms folded once before the join, "
    "per-anchor partitioned-window rank with deterministic ties "
    "(operators/similarity.hard_negative_pairs).",
    tags=("datapipe", "similarity", "training", "scale"),
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.similarity import (
        hard_negative_pairs,
    )

    e = load(spark, sf_dir, "embeddings")
    return hard_negative_pairs(e, k=3)  # bits auto-scaled


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_MINHASH_CTES},
    src AS (SELECT doc_id, source FROM documents),
    xc AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
      FROM bands a
      JOIN src sa ON a.doc_id = sa.doc_id AND sa.source = 'src0'
      JOIN bands b ON a.band = b.band AND a.bh = b.bh
      JOIN src sb ON b.doc_id = sb.doc_id AND sb.source <> 'src0'),
    sets AS (SELECT doc_id, list_distinct(sh) AS sset FROM s),
    rejected AS (
      SELECT DISTINCT xc.new_id
      FROM xc
      JOIN sets x ON xc.new_id = x.doc_id
      JOIN sets y ON xc.old_id = y.doc_id
      WHERE round(len(list_intersect(x.sset, y.sset))::DOUBLE
                  / len(list_distinct(x.sset || y.sset)), 6) >= 0.5)
    SELECT d.doc_id FROM documents d
    WHERE d.source = 'src0'
      AND d.doc_id NOT IN (SELECT new_id FROM rejected)
    """,
    doc="Incremental NEAR-dup admission: a new ingest batch (source = "
    "src0) is MinHash-banded against the existing corpus (every "
    "other source) — never against itself, never corpus×corpus — "
    "then exact-Jaccard-verified on the cross candidates only; docs "
    "with a corpus near-dup at J >= 0.5 are rejected via LEFT ANTI. "
    "The probabilistic sibling of dedup_incremental (which catches "
    "only byte-identical content): the daily-ingest shape of the "
    "full LSH pipeline. Plan/scale: candidate volume is proportional "
    "to the INGEST size, not the corpus; at 100 TB the corpus band "
    "rows are a persisted band-hash-partitioned index the daily "
    "batch probes with one shuffle join — the corpus is never "
    "re-signed (operators/dedup.lsh_candidates_cross).",
    tags=("datapipe", "dedup", "minhash", "lsh", "scale"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidates_cross,
        minhash_signatures,
    )

    d = load(spark, sf_dir, "documents")
    new = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    cand = lsh_candidates_cross(
        minhash_signatures(new), minhash_signatures(corpus)
    ).select(
        F.col("new_id").alias("doc_a"), F.col("old_id").alias("doc_b")
    )
    rejected = (
        jaccard_verify(cand, d, threshold=0.5)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return new.select("doc_id").join(rejected, "doc_id", "left_anti")


@register(
    "doc_novelty_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS gram
      FROM t WHERE len(toks) >= 3),
    dfreq AS (SELECT gram, count(*)::BIGINT AS df FROM g GROUP BY gram)
    SELECT g.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS novel_ct,
           round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) + 0.0 AS novelty
    FROM g JOIN dfreq d ON g.gram = d.gram
    GROUP BY g.doc_id
    """,
    doc="Per-document n-gram novelty: the share of a doc's distinct "
    "word-3-grams that occur in NO other document (corpus df = 1) — "
    "the memorization-risk / boilerplate audit: novelty near 1 means "
    "unique content, near 0 means the doc is assembled from phrases "
    "the corpus already contains (a diversity signal dedup misses, "
    "since no single pair need be similar). Integer-exact: per-gram "
    "df counts, integer novel/total tallies, ONE correctly-rounded "
    "division at the end. Plan: distinct-gram explode, one df agg "
    "(map-side combinable, uniform gram keys), one gram-keyed join "
    "back, per-doc agg — every shuffle keys on grams or doc_ids, "
    "both uniform; the df table is |distinct grams|-sized. Since g "
    "is per-doc-distinct, count(*) per gram IS document frequency.",
    tags=("datapipe", "text", "quality", "dedup"),
)
def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_realtime_flink_spark.operators.dedup import shingles, tokenize

    from pyspark.sql import Window

    from gmall_realtime_flink_spark.operators.spread import spread_to_cores

    d = load(spark, sf_dir, "documents")
    # r14 (guide §2.4, §2.5): document frequency as a WINDOW count
    # over the gram instead of groupBy + join-back — the old form
    # consumed `g` twice (count build side + probe side), executing
    # the tokenize + 3-gram + array_distinct explode twice per action,
    # each inside the single scan task. Identical df values; one
    # execution (spread to the core count), one exchange by gram.
    g = (
        spread_to_cores(d.select("doc_id", "text"))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles("toks", 3))).alias("gram"),
        )
    )
    gdf = g.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    novel = F.sum(
        F.when(F.col("df") == 1, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return gdf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        novel.alias("novel_ct"),
        (
            F.round(novel.cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("novelty"),
    )

