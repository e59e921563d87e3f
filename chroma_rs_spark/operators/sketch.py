"""Bounded-state sketches for 100 TB-scale frequency and membership.

Two patterns every large curation pipeline reaches for once exact
state stops fitting:

- **Count-min sketch** (Cormode & Muthukrishnan 2005): token
  frequencies in `depth x width` counters instead of one counter per
  distinct token. At 100 TB the distinct-token table is itself huge
  (Zipf tail); the sketch is a fixed-size aggregate with a one-sided
  error bound (estimates only OVER-count), mergeable across
  partitions/snapshots by cell-wise addition — the classic
  distributed-combine shape.
- **Bloom membership** (the Dolma/CCNet paragraph-dedup pattern):
  "have we seen this text before?" in k·n bits instead of a
  distinct-text table. False positives drop real novel docs at a
  bounded, tunable rate; false negatives never happen, so nothing
  duplicate ever slips through.

Both are pure DataFrame aggregations over an engine-portable hash
(`base_hash32`: first 32 bits of md5 — reproducible in any engine
with md5 + hex parsing, the same idiom the minhash family uses), so a
DuckDB oracle can replay them bit-for-bit: the sketches here are
DETERMINISTIC, not sampled. Zero UDFs, zero driver state — the sketch
lives in a DataFrame and merges by union + re-aggregation.

Reference analogue: the collection count/metadata surface
(`/root/reference/src/client.rs:94-133`) reports exact counts; these
operators are the bounded-memory stand-ins a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.operators.dedup import base_hash32


def _seeded_bucket(col: str | Column, seed: int, width: int) -> Column:
    """Engine-portable bucket for hash row `seed`: md5 over the seeded
    token, folded to 32 bits, mod width. Seeding by string concat keeps
    the oracle a literal mirror (DuckDB has md5 but no murmur/xxhash)."""
    c = F.col(col) if isinstance(col, str) else col
    return base_hash32(F.concat(F.lit(f"{seed}:"), c)) % F.lit(width)


def cms_build(
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch over long-form item rows (one row = one
    occurrence — tokens, shingles, URLs, whatever the caller explodes):
    (row, bucket, cnt) with depth x width cells.

    ONE scan of the item rows (posexplode of the depth bucket columns —
    a union of per-row selects would re-scan the input depth times),
    then ONE shuffle on (row, bucket) with map-side partial counts —
    the sketch never holds more than depth*width groups, however many
    distinct items exist. Merging two corpora's sketches = union + the
    same groupBy summing cnt.

    `weight_col` builds the SAME sketch from pre-aggregated rows: a
    cell's count is the sum of occurrence counts over the items hashing
    into it, so feeding (item, count) rows and summing the count column
    is cell-for-cell identical to feeding the raw occurrence stream —
    and when the caller already aggregated per-item counts for another
    purpose, the sketch rides that table instead of re-scanning and
    re-exploding the corpus. Weights must be non-NULL and positive (a
    NULL or non-positive count has no occurrence-stream equivalent);
    a violating row fails the query in-plan with `raise_error`, no
    extra job.
    """
    buckets = F.array(
        *[_seeded_bucket(item_col, r, width) for r in range(depth)]
    )
    contrib = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col))
    )
    extra = []
    if weight_col is not None:
        w = F.col(weight_col)
        bad = F.raise_error(
            F.lit(f"cms_build: weight_col {weight_col!r} must be non-NULL and positive")
        )
        extra = [F.when(w.isNull() | (w <= 0), bad).otherwise(w).alias(weight_col)]
    return (
        items.select(F.posexplode(buckets).alias("row", "bucket"), *extra)
        .filter(F.col("bucket").isNotNull())
        .groupBy("row", "bucket")
        .agg(contrib.cast("long").alias("cnt"))
    )


def cms_estimate(
    tokens: DataFrame,
    sketch: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each row of `tokens`: adds
    `est_count` = min over the depth rows of the addressed cells.

    Probes melt to (token, row, bucket) long form and join the sketch
    ONCE on (row, bucket) — the per-hash-row join formulation would
    re-evaluate the whole sketch aggregation depth times. The sketch
    side is ≤ depth*width rows — broadcast; the probe side never
    shuffles for the lookup (only the final per-token min). An absent
    cell means the token hashed to buckets nothing touched (impossible
    for an ingested token, the one-sided guarantee) — COALESCE to 0
    for never-seen probes.
    """
    other = [c for c in tokens.columns]
    buckets = F.array(
        *[_seeded_bucket(token_col, r, width) for r in range(depth)]
    )
    melted = tokens.select(
        *other, F.posexplode(buckets).alias("row", "bucket")
    )
    looked = melted.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        looked.groupBy(*other)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    m: int = 8192,
) -> DataFrame:
    """Bloom filter over the corpus's texts as a DataFrame of DISTINCT
    set bit positions: (pos). k seeded hashes per text, one shuffle
    (the distinct), at most m rows regardless of corpus size.

    The bit-positions-as-rows representation keeps the filter
    mergeable (union + distinct), queryable by join, and persistable
    as parquet — no driver-side bitmap, no collect. One scan of the
    corpus (explode of the k hash columns), one shuffle (the distinct).
    """
    positions = F.array(*[_seeded_bucket(text_col, i, m) for i in range(k)])
    return (
        df.select(F.explode(positions).alias("pos"))
        .filter(F.col("pos").isNotNull())
        .distinct()
    )


def bloom_contains(
    df: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    m: int = 8192,
) -> DataFrame:
    """Adds `bloom_hit`: true iff ALL k of the row's bit positions are
    set in `bloom` (the membership rule — no false negatives; false
    positives at the classic (1-e^{-kn/m})^k rate).

    Probes melt to (id, pos) long form and join the ≤ m-row filter ONCE
    (broadcast — k separate joins would re-evaluate the filter's
    distinct k times); the per-id all-k verdict is one narrow
    (id, bool) aggregation joined back to the input. NULL text probes
    report bloom_hit = false.
    """
    melted = df.select(
        F.col(id_col),
        F.explode(
            F.array(*[_seeded_bucket(text_col, i, m) for i in range(k)])
        ).alias("pos"),
    )
    marked = bloom.select("pos", F.lit(True).alias("_set"))
    verdict = (
        melted.join(F.broadcast(marked), "pos", "left")
        .groupBy(id_col)
        .agg(F.min(F.coalesce(F.col("_set"), F.lit(False))).alias("_allset"))
    )
    return df.join(verdict, id_col, "left").withColumn(
        "bloom_hit",
        F.when(F.col(text_col).isNull(), F.lit(False)).otherwise(
            F.coalesce(F.col("_allset"), F.lit(False))
        ),
    ).drop("_allset")
