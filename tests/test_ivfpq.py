"""IVF-PQ composite index (operators/pq.py: `_ivfpq_codes_arrow`,
`ivfpq_probes`, `pq_adc_topk(cells=)`): residual encoding +
per-probed-cell ADC. The suite row's DuckDB twin is the primary gate
(tools/check.py ivfpq_topk); these tests pin the structural contracts
that a value-hash alone wouldn't localize, and each numpy step against
a DuckDB replay of the oracle's SQL (tests/pq_replay.py) or against
hand-derived literals."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from tests.conftest import SF001_DIR


def _result(spark):
    from chroma_rs_spark.suite.vector import q_ivfpq_topk

    return q_ivfpq_topk(spark, SF001_DIR).collect()


def test_oracle_parity_sf0001(spark):
    from chroma_rs_spark.suite.vector import _ivfpq_oracle

    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cell"], r["adc_dist"])
        for r in _result(spark)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF001_DIR}/embeddings.parquet')"
    )
    exp = sorted(tuple(t) for t in con.sql(_ivfpq_oracle()).fetchall())
    assert got == exp


def test_neighbors_come_from_probed_cells_only(spark):
    """Every returned neighbor must sit in one of its query's n_probe
    coarse cells — the candidate-generation contract that makes the
    scan bound |corpus| x n_probe / n_cells."""
    from chroma_rs_spark.operators.ivf import assign_cells
    from chroma_rs_spark.suite.vector import (
        IVF_CENTROIDS,
        IVF_PROBE,
        _small_vectors,
    )

    rows = _result(spark)
    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")
    cents = _small_vectors(spark, SF001_DIR, IVF_CENTROIDS)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(emb, cents).select("vec_id", "cell").collect()
    }
    # probed cells per query, replayed with numpy on the same doubles
    cmat = {cid: np.asarray(v, dtype=np.float64) for cid, v in cents}
    by_q = {}
    for r in emb.filter("vec_id < 5").collect():
        q = np.asarray(r["embedding"], dtype=np.float64)
        dists = sorted(
            (
                round(
                    1.0
                    - float(q @ c) / (np.linalg.norm(q) * np.linalg.norm(c)),
                    6,
                ),
                cid,
            )
            for cid, c in cmat.items()
        )
        by_q[r["vec_id"]] = {cid for _, cid in dists[:IVF_PROBE]}
    for r in rows:
        assert r["cell"] in by_q[r["query_id"]], r
        assert cell_of[r["neighbor_id"]] == r["cell"], r


def test_ranks_contiguous_and_monotone(spark):
    rows = _result(spark)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 5
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert len(rs) == 10


def _hash_fixture(spark):
    """200 seeded uniform 64-dim vectors, the 33 lowest-id vectors as
    cells and 8 x 16 x 8 hash codebooks: no rounding ties."""
    from chroma_rs_spark.operators.pq import hash_codebooks

    rng = np.random.RandomState(42)
    vecs = rng.uniform(-1, 1, size=(200, 64))
    items = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = [(int(i), vecs[i].tolist()) for i in range(33)]
    return vecs, items, cents, hash_codebooks(8, 16, 8)


def test_ivfpq_codes_arrow_gear_matches_sql_gear(spark):
    """The encode (`_ivfpq_codes_arrow`: cell, residual, per-subspace
    argmin of the rounded in-order fold) assigns the (cell, codes) the
    oracle's SQL assigns, on a seeded corpus with no rounding ties.
    With `unit=True` it normalizes its rows in numpy
    (kernel.unit_rows); the replay, fed the same rows normalized by
    Spark's SQL `transform` over the folded `l2_norm`, must agree, so
    the two normalizations are pinned too."""
    from chroma_rs_spark.functions.vector import l2_norm
    from chroma_rs_spark.operators.pq import _ivfpq_codes_arrow
    from tests.pq_replay import CODES, replay

    vecs, items, cents, books = _hash_fixture(spark)

    def rows(df):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in df.collect()
        )

    def replayed(pairs):
        return sorted(
            (i, c, tuple(codes))
            for i, c, codes in replay(pairs, books, CODES, cents=cents)
        )

    arrow = rows(_ivfpq_codes_arrow(items, books, cents, "vec_id", "embedding"))
    assert len(arrow) == 200
    assert arrow == replayed([(i, v.tolist()) for i, v in enumerate(vecs)])

    raw = items.selectExpr("vec_id", "transform(embedding, x -> x * 3.0) AS embedding")
    unit = raw.withColumn("_n", l2_norm("embedding")).selectExpr(
        "vec_id", "transform(embedding, x -> x / _n) AS embedding"
    )
    arrow_unit = rows(
        _ivfpq_codes_arrow(raw, books, cents, "vec_id", "embedding", unit=True)
    )
    assert len(arrow_unit) == 200
    assert arrow_unit == replayed(
        [(r["vec_id"], list(r["embedding"])) for r in unit.collect()]
    )


def test_numpy_adc_matches_sql_adc(spark):
    """The IVF-PQ search (`ivfpq_probes` + `pq_adc_topk(cells=)`) over
    `_ivfpq_codes_arrow` codes returns the (query_id, rank, id, cell,
    adc_dist) rows of the oracle's SQL: same probed cells, LUTs folded
    in position order and rounded, ADC summed in subspace order from
    0.0 and rounded, ties to the lower id. The zero probe is
    unscorable under the cosine quantizer and drops on both sides."""
    from chroma_rs_spark.operators.pq import (
        _ivfpq_codes_arrow,
        ivfpq_probes,
        pq_adc_topk,
    )
    from tests.pq_replay import replay, topk

    vecs, items, cents, books = _hash_fixture(spark)
    queries = [(q, vecs[i].tolist()) for q, i in enumerate((3, 50, 117, 199))]
    queries.append((4, (0.5 * vecs[7] - 0.25 * vecs[90]).tolist()))
    queries.append((5, [0.0] * 64))
    codes = _ivfpq_codes_arrow(items, books, cents, "vec_id", "embedding")
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(
            codes.withColumnRenamed("vec_id", "id"),
            books,
            queries,
            k=10,
            cells=(cents, ivfpq_probes(cents, queries, 4)),
        ).collect()
    )
    sql = sorted(
        replay(
            [(i, v.tolist()) for i, v in enumerate(vecs)], books, topk(10),
            cents=cents, queries=queries, n_probe=4,
        )
    )
    assert len(sql) == 50
    assert got == sql


def test_numpy_residuals_match_sql_residuals():
    """`kernel.assign_residuals`, the cell-and-residual step of the
    trainer and of the Arrow encode, returns the (id, cell, residual)
    rows of the oracle's SQL on the same centroids, every double
    compared by float.hex. Row 900 lies exactly between cells 3 and 5
    (both sides pick the lower cell id); row 901 has zero norm and has
    no cosine cell on either side."""
    from chroma_rs_spark.operators.kernel import assign_residuals
    from tests.pq_replay import replay

    rng = np.random.RandomState(7)
    vecs = {i: rng.normal(size=4).tolist() for i in range(60)}
    vecs[900] = [2.0, 2.0, 0.0, 0.0]
    vecs[901] = [0.0, 0.0, 0.0, 0.0]
    cents = [
        (5, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),
        (8, [0.0, 0.0, 0.6, 0.8]),
        (11, [-0.5, 0.25, -0.5, 0.25]),
    ]

    def hexed(v):
        return tuple(float(x).hex() for x in v)

    sql = sorted(
        (i, c, hexed(r))
        for i, c, r in replay(
            list(vecs.items()), np.zeros((1, 1, 4)),
            "SELECT vec_id, cell, r FROM resid", cents=cents,
        )
    )
    order = sorted(cents)
    cids = [cid for cid, _ in order]
    ids = np.asarray(list(vecs))
    ok, pick, resid = assign_residuals(
        np.asarray(list(vecs.values())), np.asarray([v for _, v in order])
    )
    got = sorted(
        (int(i), cids[p], hexed(r)) for i, p, r in zip(ids[ok], pick, resid)
    )
    assert len(got) == 61
    assert (900, 3, hexed([1.0, 2.0, 0.0, 0.0])) in got
    assert 901 not in {row[0] for row in got}
    assert got == sql


def test_numpy_adc_rounds_binary_halves_like_spark(spark):
    """The IVF-PQ ADC rounds its lookup tables and sums with Spark
    ROUND's HALF_UP, as the oracle's SQL does: the probe's residual
    (1/16, 1/16) against the codeword (0, 0) is exactly 1/128 =
    0.0078125, which half-even rounding would turn into 0.007812 and
    Spark into 0.007813 (and (15/16)^2 * 2 = 1.7578125 is a half too).
    Row c sits in the unprobed cell 1."""
    from chroma_rs_spark.operators.pq import ivfpq_probes, pq_adc_topk

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    books = np.asarray([[[0.0, 0.0], [1.0, 1.0]]])  # m=1, k=2, sub=2
    codes = spark.createDataFrame(
        [("a", 0, [0]), ("b", 0, [1]), ("c", 1, [0])],
        "id string, cell int, codes array<int>",
    )
    queries = [(0, [1.0625, 0.0625])]  # cell 0, residual (1/16, 1/16)
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(
            codes, books, queries, k=5, id_type="string",
            cells=(cents, ivfpq_probes(cents, queries, 1)),
        ).collect()
    )
    assert got == [(0, 1, "a", 0, 0.007813), (0, 2, "b", 0, 1.757813)]


def test_batch_of_unscorable_probes_returns_no_rows(spark):
    """A batch whose every probe has zero norm probes no cell, so the
    IVF-PQ search has no lookup table at all: it returns no rows
    instead of failing the scoring task."""
    from chroma_rs_spark.operators.pq import ivfpq_probes, pq_adc_topk

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    books = np.asarray([[[0.0, 0.0], [1.0, 1.0]]])  # m=1, k=2, sub=2
    codes = spark.createDataFrame(
        [("a", 0, [0]), ("b", 1, [1])], "id string, cell int, codes array<int>"
    )
    queries = [(0, [0.0, 0.0])]
    probed = ivfpq_probes(cents, queries, 1)
    assert [p.tolist() for p in probed] == [[]]
    res = pq_adc_topk(
        codes, books, queries, k=5, id_type="string", cells=(cents, probed)
    ).collect()
    assert res == []
