"""Product quantization (operators/pq.py): encode/ADC bit-parity with
a pure-numpy reference and deterministic training. The re-scored
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


def test_adc_matches_numpy_reference(emb, np_data, books):
    ids, mat = np_data
    queries = [(int(ids[i]), mat[i].tolist()) for i in range(3)]
    res = pq_adc_topk(pq_encode(emb, books), books, queries, k=5).collect()
    # numpy reference: LUT sum over reference codes
    codes = _np_encode(mat, books)
    sub = mat.shape[1] // M
    for qid, qv in queries:
        qv = np.asarray(qv)
        lut = np.empty((M, K))
        for mi in range(M):
            diff = books[mi] - qv[mi * sub : (mi + 1) * sub][None, :]
            lut[mi] = (diff * diff).sum(axis=1)
        d = np.zeros(len(ids))
        for mi in range(M):
            d += lut[mi][codes[:, mi]]
        d = np.round(d, 6) + 0.0
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
    """pq_adc_topk_df (the oracle-checkable DataFrame plan) and the
    numpy production kernels (pq_encode + pq_adc_topk) must agree on
    the same codebooks: identical codes for every row and the same
    ADC top-k ranking. This closes the chain: the driver hash-checks
    the DF plan against DuckDB; this test pins the numpy path to the
    DF plan."""
    import numpy as np
    import pandas as pd

    from chroma_rs_spark.operators.pq import (
        hash_codebooks,
        pq_adc_topk,
        pq_adc_topk_df,
        pq_codes_df,
        pq_encode,
    )

    rng = np.random.default_rng(23)
    n, m, k_codes, sub = 300, 4, 8, 4
    dim = m * sub
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, size=dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = hash_codebooks(m, k_codes, sub)

    # codes parity: numpy argmin (unrounded, expansion form) vs the DF
    # plan's rounded-fold min_by — identical assignment for EVERY
    # (row, subspace) on this corpus
    np_codes = {
        r["id"]: list(r["codes"]) for r in pq_encode(df, books).collect()
    }
    df_codes: dict[int, list[int | None]] = {
        i: [None] * m for i in np_codes
    }
    for r in pq_codes_df(df, books).collect():
        df_codes[r["_vid"]][r["mi"]] = r["code"]
    assert df_codes == np_codes
    queries = [(0, rows[0][1]), (1, rows[7][1])]
    probes = spark.createDataFrame(
        [(q, v) for q, v in queries],
        "query_id long, query_embedding array<double>",
    )
    got_df = (
        pq_adc_topk_df(df, books, probes, k=15)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    got_np = (
        pq_adc_topk(pq_encode(df, books), books, queries, k=15)
        .orderBy("query_id", "rank")
        .toPandas()
        .rename(columns={"id": "neighbor_id", "adc_dist": "adc_dist"})
    )
    assert list(got_df["neighbor_id"]) == list(got_np["neighbor_id"])
    assert np.allclose(got_df["adc_dist"], got_np["adc_dist"], atol=2e-6)


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


def test_ivfpq_adc_topk_precollected_probed_parity(spark):
    """The round-13 `probed=` reuse path: passing ivfpq_probe_cells'
    COLLECTED rows back into ivfpq_adc_topk_df (the q_ivfpq_topk shape
    — one probe assignment feeding both the partition-pruning isin()
    and the ADC LUT) must reproduce the default in-plan assignment
    bit-for-bit: doubles round-trip collect/createDataFrame exactly."""
    import numpy as np

    from chroma_rs_spark.operators.pq import (
        hash_codebooks,
        ivfpq_adc_topk_df,
        ivfpq_probe_cells,
    )

    rng = np.random.default_rng(7)
    n, m, k_codes, sub, n_cells = 200, 4, 8, 4, 8
    dim = m * sub
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, size=dim)])
        for i in range(n)
    ]
    items = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = [(c, rows[c][1]) for c in range(n_cells)]
    probes = spark.createDataFrame(
        [(i, rows[i][1]) for i in (3, 50, 117)],
        "query_id long, query_embedding array<double>",
    )
    books = hash_codebooks(m, k_codes, sub)

    base = ivfpq_adc_topk_df(
        items, books, cents, n_probe=3, k=5, probes=probes
    ).collect()
    pre = ivfpq_probe_cells(probes, cents, n_probe=3, dim=dim).collect()
    probed_df = spark.createDataFrame(
        [(r["_qid"], int(r["cell"]), list(r["_qr"])) for r in pre],
        "_qid LONG, cell INT, _qr ARRAY<DOUBLE>",
    )
    reused = ivfpq_adc_topk_df(
        items, books, cents, n_probe=3, k=5, probes=probes,
        probed=probed_df,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, base), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, reused), key=lambda t: (t[0], t[1])
    )
    assert len(base) == 15


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
