"""Property tests for the bounded-state sketches (operators/sketch.py).

The sketches are deterministic (md5-seeded buckets), so their defining
guarantees are exactly testable, not just statistically:
- count-min NEVER under-counts, and is exact when width removes all
  collisions;
- count-min sketches MERGE: sketch(A ∪ B) == cellwise-sum(sketch(A),
  sketch(B));
- Bloom has NO false negatives, and a saturated filter reports
  everything (the degenerate-load behavior callers must size against).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chroma_rs_spark.operators.sketch import (
    bloom_build,
    bloom_contains,
    cms_build,
    cms_estimate,
)


def _items(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "item string")


def test_cms_never_undercounts(spark):
    rows = [f"tok{i % 7}" for i in range(100)] + ["rare"]
    items = _items(spark, rows)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    sketch = cms_build(items, "item", depth=3, width=8)  # heavy collisions
    est = cms_estimate(exact, sketch, "item", depth=3, width=8)
    bad = est.filter(F.col("est_count") < F.col("exact")).count()
    assert bad == 0


def test_cms_exact_without_collisions(spark):
    rows = [f"tok{i % 5}" for i in range(50)]
    items = _items(spark, rows)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    sketch = cms_build(items, "item", depth=4, width=1 << 16)
    est = cms_estimate(exact, sketch, "item", depth=4, width=1 << 16)
    assert est.filter(F.col("est_count") != F.col("exact")).count() == 0


def test_cms_merges_by_cellwise_sum(spark):
    a = _items(spark, [f"a{i % 4}" for i in range(40)])
    b = _items(spark, [f"a{i % 6}" for i in range(30)])
    merged = (
        cms_build(a, "item", depth=3, width=32)
        .unionByName(cms_build(b, "item", depth=3, width=32))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    whole = cms_build(a.unionByName(b), "item", depth=3, width=32)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_weighted_build_matches_occurrence_stream(spark):
    """cms_build(weight_col=) over pre-aggregated (item, count) rows is
    cell-for-cell identical to the occurrence-stream build — the
    associativity the fused cms_heavy_hitters query rides (round 14):
    a cell's count is the sum of per-item counts of the items hashing
    into it, whichever side of the groupBy the sum runs on."""
    rows = [f"tok{i % 9}" for i in range(120)] + ["rare", "rare"]
    items = _items(spark, rows)
    counts = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stream = cms_build(items, "item", depth=4, width=16)
    weighted = cms_build(counts, "item", depth=4, width=16, weight_col="n")
    assert stream.exceptAll(weighted).count() == 0
    assert weighted.exceptAll(stream).count() == 0


def test_cms_weighted_build_rejects_null_and_nonpositive_weights(spark):
    """weight_col= requires non-NULL positive counts: a violating row
    fails the query in-plan instead of silently dropping or negating
    occurrences."""
    import pytest

    for bad in (None, 0, -3):
        counts = spark.createDataFrame(
            [("a", 2), ("b", bad)], "item string, n long"
        )
        sketch = cms_build(counts, "item", depth=2, width=8, weight_col="n")
        with pytest.raises(Exception, match="non-NULL and positive"):
            sketch.collect()


def test_cms_never_seen_estimates_can_be_zero(spark):
    items = _items(spark, ["x", "y"])
    sketch = cms_build(items, "item", depth=4, width=1 << 16)
    probe = _items(spark, ["never-seen"])
    est = cms_estimate(probe, sketch, "item", depth=4, width=1 << 16)
    assert est.collect()[0]["est_count"] == 0


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_bloom_no_false_negatives(spark):
    corpus = _docs(spark, [f"doc number {i}" for i in range(50)])
    bloom = bloom_build(corpus, "text", k=3, m=1 << 15)
    # probe with an overlapping set: every true member must hit
    probes = _docs(spark, [f"doc number {i}" for i in range(30, 70)])
    out = bloom_contains(probes, bloom, "text", "doc_id", k=3, m=1 << 15)
    missed = out.filter(
        (F.col("doc_id") <= 19) & ~F.col("bloom_hit")  # ids 0-19 = docs 30-49
    ).count()
    assert missed == 0


def test_bloom_null_text_never_hits(spark):
    corpus = _docs(spark, ["a", "b"])
    bloom = bloom_build(corpus, "text", k=3, m=1 << 10)
    probes = spark.createDataFrame([(0, None)], "doc_id long, text string")
    out = bloom_contains(probes, bloom, "text", "doc_id", k=3, m=1 << 10)
    assert out.collect()[0]["bloom_hit"] is False


def test_bloom_unseen_mostly_misses_at_low_load(spark):
    corpus = _docs(spark, [f"seen {i}" for i in range(20)])
    bloom = bloom_build(corpus, "text", k=3, m=1 << 15)  # ~0.002 bits/key
    probes = _docs(spark, [f"unseen {i}" for i in range(100)])
    out = bloom_contains(probes, bloom, "text", "doc_id", k=3, m=1 << 15)
    fp = out.filter(F.col("bloom_hit")).count()
    # expected FP rate (60/32768)^3 ≈ 6e-9 — any hit means a logic bug
    assert fp == 0


def test_bloom_mergeable_by_union_distinct(spark):
    a = _docs(spark, ["alpha", "beta"])
    b = _docs(spark, ["gamma"])
    merged = (
        bloom_build(a, "text", k=3, m=1 << 12)
        .unionByName(bloom_build(b, "text", k=3, m=1 << 12))
        .distinct()
    )
    whole = bloom_build(a.unionByName(b), "text", k=3, m=1 << 12)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_compact_sketch_dir_crash_recovery(spark, tmp_path):
    """A compaction crash between the two renames leaves the dir
    readable: committed tmp wins when the live dir is missing, parked
    old is restored when tmp never committed (ADVICE r10)."""
    import os
    import shutil

    from chroma_rs_spark.collection import (
        _recover_interrupted_overwrite as recover_sketch_dir,
    )
    from chroma_rs_spark.streaming.ingest import compact_sketch_dir, read_cms

    base = str(tmp_path / "cms_segments")
    rows = [(0, 11, 3), (0, 11, 4), (1, 5, 2)]
    spark.createDataFrame(
        rows, "row int, bucket long, cnt long"
    ).write.mode("overwrite").parquet(base)
    merged_total = 3 + 4 + 2

    def totals():
        return sum(
            r["cnt"] for r in read_cms(spark, base).collect()
        )

    # crash window A: merged tmp committed, base renamed away ->
    # reader promotes the compacted table
    n = compact_sketch_dir(spark, base, kind="cms")
    assert n == 2 and totals() == merged_total
    shutil.move(base, base + ".__tmp")  # has _SUCCESS: "committed"
    assert totals() == merged_total and os.path.isdir(base)

    # crash window B: tmp UNcommitted, original parked at .__old ->
    # reader restores the original segments
    shutil.move(base, base + ".__old")
    os.makedirs(base + ".__tmp")
    assert totals() == merged_total and os.path.isdir(base)
    assert not os.path.isdir(base + ".__old")

    # healthy dir: recover is a no-op
    recover_sketch_dir(base)
    assert totals() == merged_total
