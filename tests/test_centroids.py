"""Label centroids + nearest-centroid assignment (operators/centroids.py)."""

import duckdb
import pytest

from chroma_rs_spark.operators.centroids import (
    assign_nearest_centroid,
    label_centroids,
)

from tests.conftest import SF001_DIR


def test_label_centroids_known_means(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, -2.0], 1),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    rows = {
        (r["label"], r["pos"]): (r["centroid"], r["n_vectors"])
        for r in label_centroids(emb).collect()
    }
    assert rows == {
        (0, 0): (2.0, 2),
        (0, 1): (3.0, 2),
        (1, 0): (10.0, 1),
        (1, 1): (-2.0, 1),
    }


def test_assign_nearest_centroid_roundtrip(spark):
    # vectors tightly clustered around their own label's mean must be
    # assigned back to that label
    data = []
    for vid, (x, y, lab) in enumerate(
        [(0.0, 0.1, 0), (0.1, -0.1, 0), (5.0, 5.1, 1), (4.9, 5.0, 1)]
    ):
        data.append((vid, [x, y], lab))
    emb = spark.createDataFrame(data, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    cents = label_centroids(emb)
    got = {
        r["vec_id"]: r["assigned_label"]
        for r in assign_nearest_centroid(emb, cents).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_fused_assign_bit_identical_to_two_step(spark):
    """assign_nearest_label_centroid (one-shuffle fused path) must
    reproduce the label_centroids -> assign_nearest_centroid result
    bit-for-bit on real embeddings."""
    import numpy as np

    from chroma_rs_spark.operators.centroids import assign_nearest_label_centroid

    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    two = {
        r["vec_id"]: (r["assigned_label"], r["sq_dist"])
        for r in assign_nearest_centroid(emb, label_centroids(emb)).collect()
    }
    fused = {
        r["vec_id"]: (r["assigned_label"], r["sq_dist"])
        for r in assign_nearest_label_centroid(emb, dim=dim).collect()
    }
    assert two.keys() == fused.keys()
    for k in two:
        assert two[k][0] == fused[k][0]
        assert (
            np.float64(two[k][1]).view(np.int64)
            == np.float64(fused[k][1]).view(np.int64)
        )


@pytest.mark.parametrize("qname", ["label_centroids", "centroid_assign"])
def test_centroid_suite_queries_match_oracle(spark, qname):
    from chroma_rs_spark.suite.pipeline import QUERIES

    qd = QUERIES[qname]
    got = sorted(tuple(r) for r in qd.fn(spark, SF001_DIR).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(qd.oracle).fetchall())
    assert len(got) == len(want)
    assert got == want


def test_kmeans_separable_clusters(spark):
    from chroma_rs_spark.operators.centroids import kmeans

    # two well-separated blobs; k=2 must split them exactly
    rows = []
    for i in range(20):
        rows.append((i, [0.0 + (i % 5) * 0.01, 0.0 + (i % 3) * 0.01]))
    for i in range(20, 40):
        rows.append((i, [9.0 + (i % 5) * 0.01, 9.0 + (i % 3) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    assign, cents = kmeans(emb, k=2, max_iter=10)
    got = {r["vec_id"]: r["assigned_label"] for r in assign.collect()}
    lo = {got[i] for i in range(20)}
    hi = {got[i] for i in range(20, 40)}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    c = {(r["label"], r["pos"]): r["centroid"] for r in cents.collect()}
    # centroid of the low blob ~0.02 avg, high blob ~9.02
    lo_lab, hi_lab = lo.pop(), hi.pop()
    assert abs(c[(lo_lab, 0)] - 0.02) < 0.05
    assert abs(c[(hi_lab, 0)] - 9.02) < 0.05


def test_kmeans_deterministic(spark):
    from chroma_rs_spark.operators.centroids import kmeans

    from chroma_rs_spark.sources.tables import load_table

    emb = load_table(spark, SF001_DIR, "embeddings")
    a1, _ = kmeans(emb, k=4, max_iter=3)
    a2, _ = kmeans(emb, k=4, max_iter=3)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_label_centroids_exact_half_boundary_matches_duckdb(spark):
    """The round-7 regression class: when the micro-unit mean s/n lands
    EXACTLY on a half (s = -1675414, n = 52 -> -32219.5 micro in the
    semantic_dedup twin corpus), Spark's Round (shortest-decimal-repr
    HALF_UP) and DuckDB's round (near-exact-binary) disagreed by 1e-6.
    The integer-exact quotient form must give the half-away-from-zero
    result in BOTH engines, bit-for-bit."""
    # (micro values, n) engineered so s/n hits .5 exactly, both signs,
    # plus the real offending sum from the round-6 gate failure
    cases = [
        ([1e-6, 2e-6], 2e-6),            # s=3, n=2  -> 1.5 -> 2
        ([-1e-6, -2e-6], -2e-6),         # s=-3      -> -1.5 -> -2
        ([-0.032219, -0.03222], -0.03222),  # s=-64439, n=2 -> -32219.5
        ([0.032219, 0.03222], 0.03222),  # s=64439, n=2 -> 32219.5
    ]
    rows = []
    for lab, (vals, _) in enumerate(cases):
        for vid, v in enumerate(vals):
            rows.append((lab * 100 + vid, [float(v)], lab))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    got = {
        r["label"]: r["centroid"] for r in label_centroids(emb).collect()
    }
    import struct

    def bits(x):
        return struct.unpack("<q", struct.pack("<d", x))[0]

    for lab, (_, want) in enumerate(cases):
        assert bits(got[lab]) == bits(want), (lab, got[lab], want)

    # DuckDB replay of the oracle CTE over the same (label, micro) pairs
    con = duckdb.connect()
    vals_sql = ", ".join(
        f"({lab}, CAST(round(CAST({float(v)} AS DOUBLE) * 1000000.0)"
        f" AS HUGEINT))"
        for lab, (vs, _) in enumerate(cases)
        for v in vs
    )
    duck = dict(
        con.sql(
            f"""
            WITH g AS (
              SELECT label, sum(m) AS s, count(*) AS n_vectors
              FROM (VALUES {vals_sql}) AS t(label, m) GROUP BY label
            )
            SELECT label,
                   CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(s) + n_vectors) // (2 * n_vectors))
                        AS DOUBLE) / 1000000.0 + 0.0
            FROM g
            """
        ).fetchall()
    )
    for lab, (_, want) in enumerate(cases):
        assert bits(duck[lab]) == bits(got[lab]) == bits(want)


def test_kmeans_converged_pair_is_self_consistent(spark):
    """The fused one-job-per-iteration loop (round 9) must keep the
    unfused contract: on early convergence, `assign` is a fixpoint of
    the returned `cents` (re-assigning against them changes nothing)
    and `cents` is exactly the label_centroids of the assignment; and
    since the blobs converge in ~2 rounds, a larger max_iter budget
    must return bit-identical results (the break fires, harmlessly)."""
    from chroma_rs_spark.operators.centroids import (
        assign_nearest_centroid,
        kmeans,
        label_centroids,
    )

    rows = [(i, [float(i % 4) * 0.01, 0.0]) for i in range(24)]
    rows += [(i, [7.0 + float(i % 4) * 0.01, 7.0]) for i in range(24, 48)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    assign, cents = kmeans(emb, k=2, max_iter=10)
    got_assign = sorted(map(tuple, assign.collect()))
    # fixpoint: one more E-step against the returned centroids is a no-op
    re_assign = assign_nearest_centroid(emb, cents)
    assert sorted(map(tuple, re_assign.collect())) == got_assign
    # M-consistency: the returned centroids ARE the per-label means of
    # the returned assignment (bit-exact — same micro-unit arithmetic)
    joined = emb.join(
        assign.select("vec_id", "assigned_label"), "vec_id"
    )
    want_cents = sorted(
        map(tuple, label_centroids(joined, label_col="assigned_label").collect())
    )
    assert sorted(map(tuple, cents.collect())) == want_cents
    # early stop: a bigger budget returns the identical pair
    a2, c2 = kmeans(emb, k=2, max_iter=25)
    assert sorted(map(tuple, a2.collect())) == got_assign
    assert sorted(map(tuple, c2.collect())) == want_cents
