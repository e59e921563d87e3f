"""Cross-engine bit-equality contract for rounded KNN distances.

Round-1 regression class: self-match cosine/ip distances round to
-0.0 in one engine and +0.0 in the other, breaking the bit-level value
hash even though every comparison says equal. The fix canonicalizes
with `+ 0.0` after rounding on BOTH sides (operators/knn.py,
suite/vector.py). This test pins the contract: for adversarial vector
sets (exact duplicates -> rank-1 distance == 0, scaled copies ->
cosine 0, negatives), every rounded distance from knn_exact is
BIT-identical to DuckDB evaluating the same math — compared via
IEEE-754 bit patterns, not ==. Its rankings and the collection's
`query()` (which ranks with knn_exact) are pinned to a DuckDB replay
of the suite's exact-KNN oracle (suite/vector.py `_knn_oracle`), on
the same set extended with zero, NaN, ±inf and NULL rows, k-th
distance ties and rounding halves.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from chroma_rs_spark.operators.knn import knn_exact

DIM = 8
METRIC_SQL = {
    "cosine": (
        "1.0 - list_dot_product(e.emb, q.emb)"
        " / (sqrt(list_dot_product(e.emb, e.emb))"
        " * sqrt(list_dot_product(q.emb, q.emb)))"
    ),
    "l2": "list_distance(e.emb, q.emb) ** 2",
    "ip": "1.0 - list_dot_product(e.emb, q.emb)",
}


def _vectors():
    rng = np.random.default_rng(20260813)
    vecs = rng.normal(0.0, 1.0, size=(24, DIM))
    vecs[3] = vecs[0]          # exact duplicate -> distance 0 self-pair
    vecs[7] = vecs[1] * 2.5    # scaled copy -> cosine distance rounds to 0
    vecs[9] = -vecs[2]         # antipodal -> cosine 2, ip sign flips
    return [[float(x) for x in row] for row in vecs]


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_rounded_distances_bit_match_duckdb(spark, metric):
    import duckdb

    vecs = _vectors()
    items = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "doc_id long, embedding array<double>",
    )
    queries = list(enumerate(vecs[:6]))
    spark_rows = {
        (r["query_id"], r["doc_id"]): _bits(r["distance"])
        for r in knn_exact(items, queries, k=len(vecs), metric=metric).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE vecs (id BIGINT, emb DOUBLE[])")
    con.executemany(
        "INSERT INTO vecs VALUES (?, ?)", [(i, v) for i, v in enumerate(vecs)]
    )
    oracle = {
        (qid, iid): _bits(d)
        for qid, iid, d in con.execute(
            f"""
            SELECT q.id, e.id, ROUND(({METRIC_SQL[metric]}), 6) + 0.0
            FROM vecs e CROSS JOIN vecs q WHERE q.id < 6
            """
        ).fetchall()
    }
    assert spark_rows == {k: oracle[k] for k in spark_rows}
    # the adversarial self-pairs must be +0.0, never -0.0 (cosine of a
    # vector with itself / its scaled copy; ip is 1-|a|^2, not 0)
    if metric == "cosine":
        assert spark_rows[(0, 3)] == _bits(0.0)
        assert spark_rows[(3, 3)] == _bits(0.0)
        assert spark_rows[(1, 7)] == _bits(0.0)


def _duckdb_ranked(ids, vecs, probes, metric: str, k: int) -> list[tuple]:
    """(query_id, rank, id, distance.hex()) rows of a DuckDB replay of
    the suite's exact-KNN oracle (`_knn_oracle`: its metric
    expressions, NULL embeddings and NaN distances dropped, ROW_NUMBER
    over (distance, id)) for the items (ids, vecs) and the probes,
    numbered from 0."""
    import duckdb

    from chroma_rs_spark.suite.vector import _COSINE_EXPR, _IP_EXPR, _L2_EXPR

    expr = {"cosine": _COSINE_EXPR, "l2": _L2_EXPR, "ip": _IP_EXPR}[metric]
    def lit(v):  # the python client would bind a NaN element as NULL
        return None if v is None else "[" + ", ".join(repr(float(x)) for x in v) + "]"

    con = duckdb.connect()
    id_type = "VARCHAR" if isinstance(ids[0], str) else "BIGINT"
    con.execute(f"CREATE TABLE e (id {id_type}, embedding DOUBLE[])")
    con.executemany(
        "INSERT INTO e VALUES (?, CAST(? AS DOUBLE[]))",
        [(i, lit(v)) for i, v in zip(ids, vecs)],
    )
    con.execute("CREATE TABLE q (query_id INTEGER, qe DOUBLE[])")
    con.executemany(
        "INSERT INTO q VALUES (?, CAST(? AS DOUBLE[]))",
        [(j, lit(v)) for j, v in enumerate(probes)],
    )
    rows = con.execute(
        f"""
        SELECT query_id, rank, id, distance FROM (
          SELECT query_id, id, distance,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY distance, id) AS rank
          FROM (
            SELECT q.query_id, e.id, ROUND(({expr}), 6) + 0.0 AS distance
            FROM e CROSS JOIN q WHERE e.embedding IS NOT NULL
          ) WHERE NOT isnan(distance)
        ) WHERE rank <= {k}
        """
    ).fetchall()
    return sorted((q, r, i, float(d).hex()) for q, r, i, d in rows)


def test_scale_path_bit_matches_exact_path(spark):
    """knn_exact's ranked top-5 (ranks, ids and distance bits,
    including the canonicalized zero) equals the DuckDB replay of the
    exact-KNN oracle."""
    vecs = _vectors()
    items = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "doc_id long, embedding array<double>",
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], float(r["distance"]).hex())
        for r in knn_exact(items, list(enumerate(vecs[:6])), k=5).collect()
    )
    assert got == _duckdb_ranked(list(range(len(vecs))), vecs, vecs[:6], "cosine", 5)
    assert (0, 1, 0, float(0.0).hex()) in got and (0, 2, 3, float(0.0).hex()) in got


# id -> (item, probe, distance): float32-exact pairs whose distance is
# exactly 1/128 or 3/128 = 0.0078125 / 0.0234375 under one metric, a
# half at the 7th decimal. Spark's ROUND takes it up; numpy's
# half-even round would take 1/128 down to 0.007812.
_E1 = [1.0] + [0.0] * (DIM - 1)
_C1 = [1.0, 15.0, 5.0, 2.0, 1.0, 0.0, 0.0, 0.0]
_C3 = [1.0, 1.0, 1.0, 13.0, 9.0, 1.0, 1.0, 1.0]
HALVES = {
    # l2 against the zero probe: 2 * 0.0625^2, 0.125^2 + 2 * 0.0625^2
    "h1": ([0.0625, 0.0625] + [0.0] * (DIM - 2), [0.0] * DIM, 0.007813),
    "h3": ([0.125, 0.0625, 0.0625] + [0.0] * (DIM - 3), [0.0] * DIM, 0.023438),
    # ip against e1: 1 - 127/128, 1 - 125/128
    "i1": ([0.9921875] + [0.0] * (DIM - 1), _E1, 0.007813),
    "i3": ([0.9765625] + [0.0] * (DIM - 1), _E1, 0.023438),
    # cosine, both norms 16: 1 - 254/256, 1 - 250/256
    "c1": ([-1.0] + _C1[1:], _C1, 0.007813),
    "c3": ([-1.0, -1.0, -1.0] + _C3[3:], _C3, 0.023438),
}
HALF_METRIC = {"h": "l2", "i": "ip", "c": "cosine"}


def _collection_vectors():
    """The adversarial set as stored FLOATs, plus the rows a collection
    query must rank exactly like knn_exact: a zero vector, a NaN and a
    ±inf component, a NULL embedding, three exact copies of one vector
    whose ids run against insertion order (a tie at the k-th distance
    must break on id), and the HALVES items."""
    vecs = [np.float32(v).astype(float).tolist() for v in _vectors()]
    extra = {
        "zero": [0.0] * DIM,
        "nan": [float("nan")] + vecs[5][1:],
        "pinf": vecs[6][:3] + [float("inf")] + vecs[6][4:],
        "ninf": vecs[8][:2] + [float("-inf")] + vecs[8][3:],
        "null": None,
        "t9": vecs[4],
        "t1": vecs[4],
        "t5": vecs[4],
    }
    extra.update({i: v for i, (v, _p, _d) in HALVES.items()})
    ids = [f"v{i:02d}" for i in range(len(vecs))] + list(extra)
    return ids, vecs + list(extra.values())


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_collection_query_bit_matches_knn_exact(engine, metric):
    """Collection `query` (knn_exact on the stored norms) returns the
    rows of the DuckDB replay of knn_exact's oracle: same ids, ranks
    and distance bits (compared by float.hex), ±inf distances kept and
    NULL/NaN ones dropped."""
    ids, vecs = _collection_vectors()
    c = engine.create_collection(f"parity_{metric}", {"hnsw:space": metric})
    c.add(ids=ids, embeddings=vecs)
    probes = [vecs[0], vecs[4], [0.0] * DIM, [float("nan")] * DIM,
              [1.0, -2.0, 0.5, 0.0, 3.0, -1.0, 0.25, 2.0], _E1, _C1, _C3]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["id"], float(r["distance"]).hex())
            for r in df.collect()
        )

    for k in (1, 2, 3, 4, len(ids)):
        got = c.query(probes, n_results=k, include=["distances"])
        assert rows(got) == _duckdb_ranked(ids, vecs, probes, metric, k), (metric, k)
        assert [f.dataType.simpleString() for f in got.schema.fields[:2]] == [
            "int", "bigint"
        ]
    # the fixture really exercises the edges it names
    every = rows(c.query(probes, n_results=len(ids), include=["distances"]))
    hexes = {d for _q, _r, _i, d in every}
    if metric == "cosine":
        assert not {"zero", "nan", "pinf", "ninf", "null"} & {i for *_, i, _d in every}
    else:
        assert {"inf", "-inf"} & hexes if metric == "ip" else "inf" in hexes
    tied = [i for q, _r, i, _d in every if q == 1 and i in ("t1", "t5", "t9", "v04")]
    assert tied == ["t1", "t5", "t9", "v04"]
    halves = {
        i: float(want).hex()
        for i, (_v, probe, want) in HALVES.items()
        if HALF_METRIC[i[0]] == metric
    }
    got_halves = {
        i: d for q, _r, i, d in every if i in halves and probes[q] == HALVES[i][1]
    }
    assert got_halves == halves


def test_rounded_half_up_bit_matches_spark_round(spark):
    """kernel.rounded_half_up equals Spark's `ROUND(x, 6) + 0.0` bit for
    bit: exact binary halves (odd multiples of 1/128, where numpy's
    half-even round differs), doubles whose shortest form ends in a 5
    at the 7th decimal, values too large for `x * 1e6` to keep a
    fraction, signed zeros and non-finite values."""
    from pyspark.sql import functions as F

    from chroma_rs_spark.operators import kernel

    halves = [k / 128 for k in range(-9, 10, 2)]
    decimal_fives = [0.1234565, 2.5e-7, 5e-7, 1.0000005, 0.0000015, 7.9999995]
    large = [12345678901.2345675, 2.0**33 + 2.0**-19, 9.87654321e15, 1e300]
    edge = [0.0, -0.0, -1e-9, 4e-7, float("inf"), float("-inf"), float("nan")]
    rng = np.random.default_rng(7)
    rand = rng.normal(0.0, 2.0, 200).tolist()
    xs = halves + decimal_fives + large + edge + rand
    xs += [-x for x in decimal_fives + large]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i INT, x DOUBLE")
    want = [
        r["r"] for r in df.select("i", (F.round("x", 6) + F.lit(0.0)).alias("r"))
        .orderBy("i").collect()
    ]
    got = kernel.rounded_half_up(np.asarray(xs, dtype=np.float64)).tolist()
    assert [float(v).hex() for v in got] == [float(v).hex() for v in want]
    # the halves really separate the two rules
    assert kernel.rounded(np.asarray([1 / 128]))[0] == 0.007812
    assert got[halves.index(1 / 128)] == 0.007813
