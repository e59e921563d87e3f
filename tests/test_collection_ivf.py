"""IVF index on the public Collection API: build_ivf_index persists
the trained centroid matrix next to the collection data, and
query(index="ivf") searches only the probed cells — the index-build-
once contract (centroids are the artifact; item-to-cell assignment
happens at search time, so late-added items stay searchable)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from chroma_rs_spark.errors import EngineError


def _clustered(rng, n_per, centers):
    vecs, ids = [], []
    for ci, c in enumerate(centers):
        for j in range(n_per):
            v = np.asarray(c) + rng.normal(0, 0.05, size=len(c))
            ids.append(f"c{ci}_{j:02d}")
            vecs.append([float(x) for x in v])
    return ids, vecs


@pytest.fixture()
def ivf_coll(engine):
    rng = np.random.default_rng(42)
    centers = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    ids, vecs = _clustered(rng, 15, centers)
    c = engine.create_collection("ivf_items", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs, documents=[f"doc {i}" for i in ids])
    return c, ids, vecs


def _cosine_dist(a, b):
    num = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(1.0 - num / (na * nb), 6) + 0.0


def test_build_persists_and_query_matches_exact_rescoring(engine, ivf_coll):
    c, ids, vecs = ivf_coll
    path = c.build_ivf_index(n_centroids=4)
    assert os.path.isdir(path)
    assert any(f.endswith(".parquet") for f in os.listdir(path))

    probe = vecs[3]
    res = c.query([probe], n_results=5, index="ivf", n_probe=2).collect()
    assert len(res) == 5
    by_id = dict(zip(ids, vecs))
    for r in res:
        # every returned distance is the exact rescored cosine distance
        assert r["distance"] == _cosine_dist(probe, by_id[r["id"]])
    # the probe vector itself is in the collection -> rank 1, distance 0
    assert res[0]["id"] == ids[3] and res[0]["distance"] == 0.0
    # include columns ride along like the exact path
    assert res[0]["document"] == f"doc {ids[3]}"


def test_ivf_recall_on_clustered_data(ivf_coll):
    c, ids, vecs = ivf_coll
    c.build_ivf_index(n_centroids=4)
    # with well-separated clusters, probing 2 of 4 cells must recover
    # the exact top-5 for every probe
    for qi in (0, 20, 45):
        exact = [r["id"] for r in c.query([vecs[qi]], n_results=5).collect()]
        approx = [
            r["id"]
            for r in c.query([vecs[qi]], n_results=5, index="ivf", n_probe=2).collect()
        ]
        assert approx == exact


def test_ivf_transient_when_unbuilt_and_stale_items_searchable(engine):
    rng = np.random.default_rng(7)
    ids, vecs = _clustered(rng, 12, [[1.0, 0.0], [0.0, 1.0]])
    c = engine.create_collection("ivf_fresh", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs)
    # no persisted index: query trains a TRANSIENT one (reads never
    # write — no index directory may appear as a side effect)
    res = c.query([vecs[0]], n_results=3, index="ivf", n_probe=1)
    assert res.collect()[0]["id"] == ids[0]
    import os

    from chroma_rs_spark.collection import IVF_INDEX_DIR

    idx_dir = os.path.join(
        c._engine.collection_dir(c.id), IVF_INDEX_DIR
    )
    assert not os.path.isdir(idx_dir)
    # items added AFTER the build are assigned to cells at query time
    c.build_ivf_index(n_centroids=2)
    c.add(ids=["late"], embeddings=[[0.97, 0.01]])
    got = c.query([[0.97, 0.01]], n_results=1, index="ivf", n_probe=1).collect()
    assert got[0]["id"] == "late" and got[0]["distance"] == 0.0


def test_ivf_requires_cosine_and_known_index(engine):
    c = engine.create_collection("ivf_l2", {"hnsw:space": "l2"})
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(EngineError, match="cosine"):
        c.query([[1.0, 0.0]], index="ivf")
    with pytest.raises(EngineError, match="unknown index"):
        c.query([[1.0, 0.0]], index="hnsw")


@pytest.mark.parametrize("build", ["build_ivf_index", "build_ivfpq_index"])
def test_build_ivf_index_empty_collection_raises_loudly(engine, build):
    c = engine.create_collection("ivf_empty", {"hnsw:space": "cosine"})
    with pytest.raises(ValueError, match="survived"):
        getattr(c, build)(n_centroids=4)


@pytest.mark.parametrize("index", ["ivf", "ivfpq"])
def test_duplicated_corpus_build_raises_and_transient_query_answers(engine, index):
    """Twelve copies of one vector: every cell but the first ends with
    no row, so the build refuses to hand back a smaller index, while a
    transient query on the same corpus keeps the surviving cell."""
    c = engine.create_collection("ivf_dup", {"hnsw:space": "cosine"})
    vec = [0.6, 0.8, 0.0, 0.0]
    c.add(ids=[f"d{i:02d}" for i in range(12)], embeddings=[vec] * 12)
    with pytest.raises(ValueError, match="survived"):
        getattr(c, f"build_{index}_index")(n_centroids=4)
    res = c.query([vec], n_results=3, index=index).collect()
    assert [r["id"] for r in res] == ["d00", "d01", "d02"]
    assert all(r["distance"] == 0.0 for r in res)
