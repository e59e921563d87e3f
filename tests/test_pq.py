"""Product quantization (operators/pq.py): encode/ADC bit-parity with
a pure-numpy reference and with a DuckDB replay of the oracle's SQL
(tests/pq_replay.py), and deterministic training. The re-scored
search's exact distances and recall band are pinned end to end in
tests/test_collection_pq.py."""

import numpy as np
import pytest

from chroma_rs_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
)
from tests.conftest import SF001_DIR

M, K = 8, 16


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def np_data(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


@pytest.fixture(scope="module")
def books(emb):
    return train_pq_codebooks(emb, m=M, k=K, sample_size=256)


def test_training_is_deterministic(emb, books):
    again = train_pq_codebooks(emb, m=M, k=K, sample_size=256)
    assert np.array_equal(books, again)
    assert books.shape == (M, K, 64 // M)


def _np_encode(mat, books):
    sub = mat.shape[1] // books.shape[0]
    codes = np.empty((mat.shape[0], books.shape[0]), dtype=np.int64)
    for mi in range(books.shape[0]):
        x = mat[:, mi * sub : (mi + 1) * sub]
        c = books[mi]
        d = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        codes[:, mi] = np.argmin(d, axis=1)
    return codes


def test_encode_matches_numpy_reference(emb, np_data, books):
    ids, mat = np_data
    expected = _np_encode(mat, books)
    got = {r["id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids):
        assert got[vid] == expected[i].tolist(), f"codes differ for {vid}"


def _half_up(x: float) -> float:
    """Spark's ROUND(x, 6) + 0.0: HALF_UP on the shortest decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP)) + 0.0


def test_adc_matches_numpy_reference(emb, np_data, books):
    ids, mat = np_data
    queries = [(int(ids[i]), mat[i].tolist()) for i in range(3)]
    res = pq_adc_topk(pq_encode(emb, books), books, queries, k=5).collect()
    # reference: rounded in-order LUT, summed in subspace order from
    # 0.0 over the reference codes, rounded again
    codes = _np_encode(mat, books)
    sub = mat.shape[1] // M
    for qid, qv in queries:
        lut = np.empty((M, K))
        for mi in range(M):
            for ci in range(K):
                acc = 0.0
                for x, c in zip(qv[mi * sub : (mi + 1) * sub], books[mi, ci]):
                    acc += (x - c) * (x - c)
                lut[mi, ci] = _half_up(acc)
        d = np.zeros(len(ids))
        for mi in range(M):
            d += lut[mi][codes[:, mi]]
        d = np.asarray([_half_up(x) for x in d])
        order = np.lexsort((ids, d))[:5]
        expect = [(int(ids[o]), d[o]) for o in order]
        got = [
            (r["id"], r["adc_dist"])
            for r in sorted(
                (x for x in res if x["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        assert [g[0] for g in got] == [e[0] for e in expect]
        for g, e in zip(got, expect):
            assert np.float64(g[1]).view(np.int64) == np.float64(e[1]).view(
                np.int64
            )


def test_df_adc_path_matches_numpy_path_on_hash_codebooks(spark):
    """The numpy PQ search (pq_encode + pq_adc_topk) equals a DuckDB
    replay of the pq_adc_topk oracle's SQL on the same codebooks:
    identical codes for every row (rounded in-order fold, ties low) and
    the same ADC top-k rows, distances compared exactly. This closes
    the chain: the driver hash-checks the suite row against DuckDB;
    this test pins the numpy kernels to that SQL on another shape."""
    from chroma_rs_spark.operators.pq import hash_codebooks
    from tests.pq_replay import CODES, replay, topk

    rng = np.random.default_rng(23)
    n, m, k_codes, sub = 300, 4, 8, 4
    dim = m * sub
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, size=dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = hash_codebooks(m, k_codes, sub)
    queries = [(0, rows[0][1]), (1, rows[7][1])]

    np_codes = sorted(
        (r["id"], tuple(r["codes"])) for r in pq_encode(df, books).collect()
    )
    sql_codes = sorted((i, tuple(c)) for i, _cell, c in replay(rows, books, CODES))
    assert len(np_codes) == n
    assert np_codes == sql_codes
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(pq_encode(df, books), books, queries, k=15).collect()
    )
    sql = sorted(
        (q, rank, i, d)
        for q, rank, i, _cell, d in replay(rows, books, topk(15), queries=queries)
    )
    assert len(sql) == 30
    assert got == sql


def test_adc_rounds_binary_halves_like_spark(spark):
    """Plain PQ rounds each LUT entry before the ADC sum, as the oracle
    does: the probe's subvectors (1/16, 1/16) against the codeword
    (0, 0) are exactly 1/128 = 0.0078125 each, which rounds HALF_UP to
    0.007813, so two such lookups sum to 0.015626 (an unrounded LUT
    gives 0.015625)."""
    books = np.asarray([[[0.0, 0.0], [1.0, 1.0]]] * 2)  # m=2, k=2, sub=2
    codes = spark.createDataFrame(
        [("a", [0, 0]), ("b", [1, 1])], "id string, codes array<int>"
    )
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(
            codes, books, [(0, [0.0625] * 4)], k=5, id_type="string"
        ).collect()
    )
    # (15/16)^2 * 2 = 1.7578125, a half too: 1.757813 + 1.757813
    assert got == [(0, 1, "a", 0.015626), (0, 2, "b", 3.515626)]


def test_pq_encode_drops_null_and_wrong_dim_rows(spark):
    """A NULL or wrong-dim row cannot be encoded: pq_encode drops it,
    like `_ivfpq_codes_arrow`, instead of failing the batch; and the
    rescored search drops such probes."""
    from chroma_rs_spark.operators.pq import hash_codebooks, pq_topk_rescored_df

    books = hash_codebooks(2, 4, 2)
    items = spark.createDataFrame(
        [
            (0, [0.1, 0.2, 0.3, 0.4]),
            (1, None),
            (2, [0.5, 0.6, 0.7]),
            (3, [-0.1, 0.2, -0.3, 0.4]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    assert sorted(r["id"] for r in pq_encode(items, books).collect()) == [0, 3]
    probes = items.selectExpr("vec_id AS query_id", "embedding AS query_embedding")
    res = pq_topk_rescored_df(items, books, probes, k=1, oversample=2).collect()
    assert sorted((r["query_id"], r["neighbor_id"]) for r in res) == [(0, 0), (3, 3)]


def test_train_pq_codebooks_df_deterministic_and_dense(spark):
    """The oracle-replayable trainer is bit-deterministic across runs
    and returns a dense (m, k, sub) artifact; the trained search's
    rank-1 hit for a corpus probe is the probe itself at distance 0."""
    import numpy as np

    from chroma_rs_spark.operators.pq import (
        pq_topk_rescored_df,
        train_pq_codebooks_df,
    )
    from chroma_rs_spark.suite.vector import _probe_queries

    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")
    b1 = train_pq_codebooks_df(emb, m=8, k=16, max_iter=3, sample_size=256)
    b2 = train_pq_codebooks_df(emb, m=8, k=16, max_iter=3, sample_size=256)
    assert b1.shape == (8, 16, 8)
    assert not np.isnan(b1).any()
    assert np.array_equal(b1, b2)
    # every centroid component is an exact micro-unit multiple (the
    # fixed-point contract that makes the SQL replay possible)
    assert np.array_equal(b1, np.round(b1 * 1e6) / 1e6)
    res = pq_topk_rescored_df(
        emb, b1, _probe_queries(emb), k=5, oversample=4
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["neighbor_id"] == qid and rows[0]["distance"] == 0.0
        dists = [r["distance"] for r in rows]
        assert dists == sorted(dists)


def test_train_pq_codebooks_df_raises_on_emptied_cluster(spark):
    """Degenerate corpora (fewer distinct subvectors than k) must fail
    loudly — the dense-codebook contract — not hand back NaN rows."""
    import pytest as _pytest

    from chroma_rs_spark.operators.pq import train_pq_codebooks_df

    dup = spark.createDataFrame(
        [(i, [1.0, 2.0] * 4) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="clusters emptied|train"):
        train_pq_codebooks_df(dup, m=4, k=8, max_iter=2, sample_size=20)


@pytest.mark.parametrize("max_iter", [3, 10])
def test_train_pq_codebooks_df_is_kmeans_per_subspace(spark, max_iter):
    """PQ training is independent k-means per subspace: codebook `mi`
    is bit-equal to `kmeans` on subspace `mi` of the same md5 sample.
    The corpus has a shifted blob in the first subspace and noise
    elsewhere, so the subspaces reach their fixpoints at different
    iterations (9, 10 and past 11): at max_iter=10 some subspaces have
    converged while the grouped loop keeps iterating the others."""
    import hashlib

    from chroma_rs_spark.operators.centroids import kmeans
    from chroma_rs_spark.operators.pq import train_pq_codebooks_df

    n, dim, m, k, n_sample = 300, 16, 4, 4, 200
    sub = dim // m
    rng = np.random.default_rng(11)
    x = rng.normal(0.0, 1.0, (n, dim))
    x[: n // 2, :sub] += 3.0
    vecs = [[float(v) for v in row] for row in x]
    items = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    # the sample rule, modelled independently: smallest (md5(id), id)
    sample = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:n_sample]

    books = train_pq_codebooks_df(
        items, m=m, k=k, max_iter=max_iter, sample_size=n_sample
    )
    for mi in range(m):
        part = spark.createDataFrame(
            [(i, vecs[i][mi * sub : (mi + 1) * sub]) for i in sample],
            "vec_id long, embedding array<double>",
        )
        _, cents = kmeans(part, k=k, max_iter=max_iter, dim=sub)
        want = np.full((k, sub), np.nan)
        for r in cents.collect():
            want[r["label"], r["pos"]] = r["centroid"]
        assert np.array_equal(books[mi], want), mi
