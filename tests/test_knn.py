"""KNN operator tests against numpy brute force (SURVEY.md §2.2 A8-A11)."""

import numpy as np
import pytest

from chroma_rs_spark.operators.knn import knn_exact
from tests.conftest import SF001_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def np_data(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def np_topk(mat, ids, qvecs, k, metric):
    out = {}
    for qi, q in enumerate(qvecs):
        if metric == "cosine":
            d = 1 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        elif metric == "l2":
            d = ((mat - q) ** 2).sum(axis=1)
        else:
            d = 1 - mat @ q
        d = np.round(d, 6)
        order = np.lexsort((ids, d))[:k]
        out[qi] = list(ids[order])
    return out


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_knn_exact_matches_numpy(spark, emb, np_data, metric):
    ids, mat = np_data
    queries = [(i, list(map(float, q))) for i, q in enumerate(mat[:3])]
    res = knn_exact(emb, queries, k=5, metric=metric, item_id="vec_id").collect()
    got = {}
    for r in res:
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    assert got == np_topk(mat, ids, [q for _, q in queries], 5, metric)


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_local_topk_matches_exact(spark, emb, np_data, metric):
    """Spread over many partitions, each Arrow batch keeps its own k
    per query and the window merges them: the merged top-k equals the
    brute-force one, rank for rank."""
    ids, mat = np_data
    queries = [(i, list(map(float, q))) for i, q in enumerate(mat[:3])]
    res = knn_exact(
        emb.repartition(7), queries, k=5, metric=metric, item_id="vec_id"
    ).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    assert got == np_topk(mat, ids, [q for _, q in queries], 5, metric)


def test_self_query_rank1_is_self(spark, emb, np_data):
    ids, mat = np_data
    queries = [(int(ids[7]), list(map(float, mat[7])))]
    res = knn_exact(emb, queries, k=1, metric="cosine", item_id="vec_id").collect()
    assert res[0]["vec_id"] == ids[7] and res[0]["distance"] == 0.0


def test_knn_exact_probe_and_item_edges(spark):
    """NULL probes drop, string probe ids keep their type, items of
    another length or with a NULL embedding are unscorable, and
    `exclude_self` drops only the probe's own id; probes of mixed
    lengths raise."""
    items = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = knn_exact(
        items, [("a", [1.0, 0.0]), ("b", None)], k=5, metric="l2", item_id="vec_id"
    )
    assert got.schema["query_id"].dataType.simpleString() == "string"
    rows = sorted(got.collect(), key=lambda r: r["rank"])
    assert [(r["query_id"], r["vec_id"]) for r in rows] == [("a", 0), ("a", 1)]
    own = knn_exact(
        items, [(0, [1.0, 0.0])], k=5, metric="l2", item_id="vec_id", exclude_self=True
    )
    assert [r["vec_id"] for r in own.collect()] == [1]
    with pytest.raises(ValueError, match="mixed dims"):
        knn_exact(items, [(0, [1.0, 0.0]), (1, [1.0])], k=1, item_id="vec_id")


def test_collection_query_diverse(engine):
    """MMR on the collection surface: planted clones crowd plain
    query(); query_diverse keeps the best clone and diversifies;
    filters push down; lam=1 equals plain exact query order."""
    import pytest as _pytest

    from chroma_rs_spark.errors import EngineError

    c = engine.create_collection("mmr_coll", {"hnsw:space": "cosine"})
    rows = {
        "a0": [1.0, 0.0, 0.0, 0.0],
        "a1": [0.999, 0.01, 0.0, 0.0],
        "a2": [0.998, 0.02, 0.0, 0.0],
        "b0": [0.8, 0.6, 0.0, 0.0],
        "b1": [0.8, 0.0, 0.6, 0.0],
    }
    c.add(
        ids=list(rows),
        embeddings=list(rows.values()),
        metadatas=[{"grp": k[0]} for k in rows],
        documents=[f"doc {k}" for k in rows],
    )
    probe = [[1.0, 0.0, 0.0, 0.0]]
    got = c.query_diverse(probe, n_results=3, lam=0.5).collect()
    ids = [r["id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ids[0] == "a0"
    assert set(ids) & {"b0", "b1"}  # diversified past the clone cluster
    assert {r["document"] for r in got} == {f"doc {i}" for i in ids}
    # lam=1 degenerates to the plain exact-query ranking
    pure = [
        r["id"]
        for r in sorted(
            c.query_diverse(probe, n_results=3, lam=1.0).collect(),
            key=lambda r: r["rank"],
        )
    ]
    plain = [
        r["id"]
        for r in sorted(
            c.query(probe, n_results=3, index="exact").collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert pure == plain == ["a0", "a1", "a2"]
    # where-filter pushes down BEFORE the pool
    only_b = c.query_diverse(
        probe, n_results=2, lam=0.5, where={"grp": "b"}
    ).collect()
    assert {r["id"] for r in only_b} == {"b0", "b1"}
    # metric gate
    l2c = engine.create_collection("mmr_l2", {"hnsw:space": "l2"})
    l2c.add(ids=["x"], embeddings=[[1.0, 0.0]])
    with _pytest.raises(EngineError):
        l2c.query_diverse([[1.0, 0.0]], n_results=1)


def test_query_diverse_pool_clamp(engine):
    """n_results > 128 used to derive pool = 4*n_results > MMR_MAX_POOL
    and raise (ADVICE r12); the derived default now clamps to the cap.
    An EXPLICIT over-cap pool still raises, and n_results above the cap
    itself is rejected at the collection surface."""
    import pytest as _pytest

    from chroma_rs_spark.errors import EngineError
    from chroma_rs_spark.operators.similarity import MMR_MAX_POOL

    c = engine.create_collection("mmr_clamp", {"hnsw:space": "cosine"})
    n = 140  # 4*n = 560 > MMR_MAX_POOL = 512
    c.add(
        ids=[f"v{i}" for i in range(8)],
        embeddings=[[1.0, float(i) / 10.0] for i in range(8)],
    )
    got = c.query_diverse([[1.0, 0.0]], n_results=n, lam=0.5).collect()
    assert len(got) == 8  # corpus smaller than n; clamp must not raise
    with _pytest.raises(ValueError):
        c.query_diverse(
            [[1.0, 0.0]], n_results=4, pool=MMR_MAX_POOL + 1
        ).collect()
    with _pytest.raises(EngineError):
        c.query_diverse([[1.0, 0.0]], n_results=MMR_MAX_POOL + 1)
