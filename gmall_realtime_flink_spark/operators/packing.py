"""Chunking / shuffling / sequence-packing operators for training-data
pipelines (beyond-reference components: the reference engine has no
corpus-preparation surface).

All three follow the engine's determinism contract:
ordering and assignment key off md5 of the natural id — content-stable
across runs, engines, partitionings and scale factors — never `rand()`
or a partition-dependent Spark hash.

Scale notes (100 TB / 1000 executors):
- `chunk_documents` is a narrow per-row explode: tokens never leave the
  row, no shuffle; output size is input size × (1 + overlap fraction).
- `corpus_shuffle` is the distributed form of "shuffle the corpus":
  a deterministic shard assignment plus a per-shard ordering. The only
  shuffle is on the shard key; each shard sorts independently (a
  partitioned window, never a global ORDER BY). Shard count is the
  write-parallelism knob — at 100 TB use O(cluster cores) shards.
- `pack_documents` is greedy sequence packing made distributed: a
  global first-fit is inherently sequential, so docs are hash-bucketed
  and packed by cumulative token count WITHIN each bucket (the
  standard data-parallel packing compromise; packing efficiency loss
  vs global first-fit is O(1 doc) per bucket boundary). One shuffle on
  the bucket key; the running sum is a partitioned window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def hash_bucket(id_col: Column, buckets: int = 256) -> Column:
    """Deterministic bucket in [0, buckets): int(md5(id)[:2], 16) scaled.

    Uses only the first byte of the digest when buckets <= 256 (the
    common case); uniform because md5 bytes are uniform. The same
    value is computable bit-identically in DuckDB via char arithmetic.
    """
    byte = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 2), 16, 10).cast(
        "long"
    )
    return (byte % buckets).alias("bucket")


def _ws_tokens(text_col: Column) -> Column:
    """Whitespace tokens with empties dropped (split of an empty or
    all-space string yields [''])."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda x: x != F.lit("")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking: each document becomes ceil-many
    chunks of `chunk_tokens` whitespace tokens advancing by
    `chunk_tokens - overlap`.

    Start positions stop before ``n_tokens - overlap`` so a trailing
    chunk always contributes at least one token that the previous
    chunk did not (no fully-contained duplicate tail chunks).
    Everything is JVM array functions on the row — no shuffle, no
    Python; the chunk explode is the only row-count change.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = docs.select(
        F.col(id_col),
        _ws_tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("__toks") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = toks.select(
        F.col(id_col), F.col("__toks"), F.explode(starts).alias("start")
    )
    chunk = F.slice(F.col("__toks"), F.col("start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.expr("start div {}".format(stride)).alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def corpus_shuffle(
    docs: DataFrame,
    n_shards: int = 8,
    seed: str = "42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global permutation for training-order shuffling,
    expressed as (shard, position-in-shard).

    A literal "ORDER BY random()" is both nondeterministic and a
    global sort; instead each row gets a content-stable sort key
    md5(seed|id), a shard = key-bucket mod `n_shards`, and a rank
    within its shard. Readers consume shards in index order (or in
    parallel) and get the same permutation on every run and engine.
    """
    sort_key = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    )
    shard = (hash_bucket(F.col(id_col)) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return (
        docs.select(
            F.col(id_col), sort_key.alias("sort_key"), shard.alias("shard")
        )
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos", "sort_key")
    )


def pack_documents(
    docs: DataFrame,
    budget_tokens: int = 256,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-token-budget
    packs for training-batch construction.

    Docs are hash-bucketed (deterministic, content-stable), ordered
    within the bucket by the same hash, and assigned
    ``pack_id = floor(cum_before / budget)`` from the bucket-local
    running token count — the cumulative-cut formulation (the one a
    partitioned window can compute in a single pass). A pack is local
    to a bucket: pack identity is (bucket, pack_id). Consequences of
    the cumulative cut, by design: a doc whose tokens straddle a
    budget boundary belongs to the pack its STARTING offset falls in
    (so that pack's total can exceed the budget by at most one doc's
    tail), and a doc spanning >= 2 budgets makes the following
    pack_id skip integers. Docs are never split — chunk first with
    `chunk_documents` (or the composed `doc_chunk_pack` query) to
    bound every piece below the budget.
    """
    sort_key = F.md5(F.col(id_col).cast("string"))
    base = docs.select(
        F.col(id_col),
        hash_bucket(F.col(id_col), n_buckets).cast("int").alias("bucket"),
        sort_key.alias("sort_key"),
        F.size(_ws_tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("sort_key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = base.withColumn("__cum", F.sum("n_tokens").over(w))
    return packed.select(
        id_col,
        "bucket",
        "n_tokens",
        F.expr(
            f"(__cum - n_tokens) div {budget_tokens}"
        ).alias("pack_id"),
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    seed: str = "42",
    id_col: str = "doc_id",
) -> None:
    """Materialize the training corpus as `shard=N/` parquet
    directories in deterministic shuffled order — the webdataset-style
    output stage: readers stream shard files sequentially and see the
    `corpus_shuffle` permutation without any shuffle of their own.

    One wide shuffle (repartition on the shard id so each shard is
    written by exactly one task) + an in-partition sort by permutation
    position; at 100 TB, shard count = O(total bytes / target file
    size) and this is the same cost as any partitioned write of the
    corpus. Row order inside each parquet file IS the read-back order,
    so the permutation survives the round-trip (asserted in
    tests/test_maintenance.py).
    """
    perm = corpus_shuffle(docs, n_shards=n_shards, seed=seed, id_col=id_col)
    with_payload = perm.join(docs, id_col)
    (
        with_payload.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .drop("sort_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
