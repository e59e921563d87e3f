"""Composite IVF-PQ index on the public Collection API
(collection.py:build_ivfpq_index / query(index="ivfpq")): persisted
two-table artifact, exact re-scored distances, metric gating, the
read-only transient path, and filter composition."""

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
def ivfpq_coll(engine):
    rng = np.random.default_rng(17)
    centers = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    ids, vecs = _clustered(rng, 15, centers)
    c = engine.create_collection("ivfpq_items", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs, documents=[f"doc {i}" for i in ids])
    return c, ids, vecs


def _cosine_dist(a, b):
    num = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(1.0 - num / (na * nb), 6) + 0.0


def test_build_persists_and_distances_are_exact(ivfpq_coll):
    c, ids, vecs = ivfpq_coll
    path = c.build_ivfpq_index(
        n_centroids=4, max_iter=3, m=2, k=8, sample_size=64
    )
    assert os.path.isdir(os.path.join(path, "centroids"))
    assert os.path.isdir(os.path.join(path, "codebooks"))
    assert c.stats()["ivfpq_index"] is True
    probe = vecs[5]
    res = c.query(
        [probe], n_results=5, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    assert len(res) == 5
    by_id = dict(zip(ids, vecs))
    for r in res:
        # the composite index affects recall only — every returned
        # distance is the exact rounded cosine, same as the exact path
        assert r["distance"] == _cosine_dist(probe, by_id[r["id"]])
    assert res[0]["id"] == ids[5] and res[0]["distance"] == 0.0


def test_transient_path_reads_never_write(ivfpq_coll, engine):
    from chroma_rs_spark.collection import IVFPQ_INDEX_DIR

    c, ids, vecs = ivfpq_coll
    res = c.query(
        [vecs[0]], n_results=3, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    assert len(res) == 3 and res[0]["id"] == ids[0]
    assert not os.path.exists(
        os.path.join(engine.collection_dir(c.id), IVFPQ_INDEX_DIR)
    )


def test_metric_gating(engine):
    c = engine.create_collection("ivfpq_l2", {"hnsw:space": "l2"})
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(EngineError):
        c.build_ivfpq_index()
    with pytest.raises(EngineError):
        c.query([[1.0, 0.0]], n_results=1, index="ivfpq")


def test_where_filter_composes(ivfpq_coll):
    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    # restrict to cluster-0 ids via metadata-free document filter
    res = c.query(
        [vecs[0]],
        n_results=3,
        index="ivfpq",
        n_probe=4,
        oversample=10,
        where_document={"$contains": "doc c0_"},
    ).collect()
    assert res and all(r["id"].startswith("c0_") for r in res)


def test_recall_beats_chance_on_clustered_data(ivfpq_coll):
    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    exact = c.query([vecs[7]], n_results=10, index="exact").collect()
    approx = c.query(
        [vecs[7]], n_results=10, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    hits = {r["id"] for r in approx} & {r["id"] for r in exact}
    # clustered fixture: the probed cells contain the true neighbors
    assert len(hits) >= 7


def test_materialized_codes_used_and_results_unchanged(ivfpq_coll, engine):
    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    probe = vecs[9]
    before = c.query(
        [probe], n_results=5, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    path = c.materialize_ivfpq_codes()
    assert os.path.isdir(path) and c.stats()["ivfpq_codes"] is True
    after = c.query(
        [probe], n_results=5, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    # late-added item is still searchable (encoded on the fly + union)
    c.add(ids=["late_00"], embeddings=[probe], documents=["late twin"])
    res = c.query(
        [probe], n_results=2, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    assert {r["id"] for r in res} >= {"late_00"}
    assert all(r["distance"] == 0.0 for r in res if r["id"] == "late_00")


def test_rebuild_invalidates_materialized_codes(ivfpq_coll, engine):
    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    path = c.materialize_ivfpq_codes()
    assert path == engine.data_path(c.id)
    assert not os.path.exists(os.path.join(engine.collection_dir(c.id), "ivfpq_codes"))
    assert c.stats()["ivfpq_codes"] is True
    # rebuilding with different m writes a new generation: every stored
    # code is stale, and the rows are encoded on the fly under the new
    # index — exactly as after materializing them again
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=4, k=8, sample_size=64)
    assert c.stats()["ivfpq_codes"] is False

    def run():
        return [
            tuple(r)
            for r in c.query(
                [vecs[2], vecs[30]], n_results=5, index="ivfpq", n_probe=2,
                oversample=2,
            ).collect()
        ]

    stale = run()
    c.materialize_ivfpq_codes()
    assert c.stats()["ivfpq_codes"] is True
    assert run() == stale


def test_materialize_requires_index(engine):
    c = engine.create_collection("ivfpq_noidx", {"hnsw:space": "cosine"})
    c.add(ids=["a"], embeddings=[[1.0, 0.0]])
    with pytest.raises(EngineError):
        c.materialize_ivfpq_codes()


def test_rebuild_crash_windows_never_mix_generations(ivfpq_coll, engine):
    """REBUILD promotes both tables in ONE root rename: replay every
    crash window's on-disk state and assert the loader always sees a
    complete single generation (old m=2 or new m=4), never codebooks
    from one build with centroids from the other."""
    import shutil

    from chroma_rs_spark.collection import IVFPQ_INDEX_DIR, _load_index

    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    root = os.path.join(engine.collection_dir(c.id), IVFPQ_INDEX_DIR)
    gen1 = root + ".__gen1_keep"
    shutil.copytree(root, gen1)
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=4, k=8, sample_size=64)
    gen2 = root + ".__gen2_keep"
    shutil.copytree(root, gen2)

    def reset(tmp_from=None, old_from=None, live_from=None):
        for suffix in ("", ".__tmp", ".__old"):
            shutil.rmtree(root + suffix, ignore_errors=True)
        if tmp_from:
            shutil.copytree(tmp_from, root + ".__tmp")
        if old_from:
            shutil.copytree(old_from, root + ".__old")
        if live_from:
            shutil.copytree(live_from, root)

    # window A: old parked, committed tmp in place, live missing ->
    # the NEW generation wins (its write completed)
    reset(tmp_from=gen2, old_from=gen1)
    cents, books = _load_index(engine, c, "ivfpq")
    assert books.shape[0] == 4  # m=4 codebooks
    assert len(cents[0][1]) == 4  # 4-dim centroids of the same build
    assert os.path.isdir(root) and not os.path.isdir(root + ".__tmp")

    # window B: old parked, tmp UNcommitted (no root _SUCCESS), live
    # missing -> roll back to the complete OLD generation
    reset(tmp_from=gen2, old_from=gen1)
    os.remove(os.path.join(root + ".__tmp", "_SUCCESS"))
    cents, books = _load_index(engine, c, "ivfpq")
    assert books.shape[0] == 2  # m=2: the parked old build, intact

    # window C: swap finished (live present), stale park dirs remain ->
    # live generation is authoritative
    reset(live_from=gen2, old_from=gen1)
    cents, books = _load_index(engine, c, "ivfpq")
    assert books.shape[0] == 4
    shutil.rmtree(gen1, ignore_errors=True)
    shutil.rmtree(gen2, ignore_errors=True)


def test_rebuild_between_queries_serves_the_new_generation(ivfpq_coll, engine):
    """The loaded index is memoized per committed generation: a warm
    load reads nothing, and a rebuild with a different m and
    n_centroids in the same session is served at the next query."""
    from chroma_rs_spark.collection import IVFPQ_INDEX_DIR, _INDEX_MEMO, _load_index
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, ids, vecs = ivfpq_coll
    root = os.path.join(engine.collection_dir(c.id), IVFPQ_INDEX_DIR)
    by_id = dict(zip(ids, vecs))

    def query_and_check():
        res = c.query(
            [vecs[5]], n_results=5, index="ivfpq", n_probe=2, oversample=6
        ).collect()
        assert res[0]["id"] == ids[5]
        for r in res:
            assert r["distance"] == _cosine_dist(vecs[5], by_id[r["id"]])
        return _INDEX_MEMO[root][1]

    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    cents, books = query_and_check()
    assert (len(cents), books.shape[0]) == (4, 2)
    jobs, _, warm = count_jobs_stages(
        engine.spark, lambda: _load_index(engine, c, "ivfpq")
    )
    assert jobs == 0 and warm[1] is books

    c.build_ivfpq_index(n_centroids=3, max_iter=3, m=4, k=8, sample_size=64)
    cents, books = query_and_check()
    assert (len(cents), books.shape[0]) == (3, 4)


def _hexed(x):
    if isinstance(x, (tuple, list, np.ndarray)):
        return tuple(_hexed(v) for v in x)
    return float(x).hex() if isinstance(x, float) else x


def test_build_seeds_the_index_memo(ivfpq_coll, engine):
    """Each build stores what it wrote in the index memo, so a
    materialize right after the build runs only its write job, and a
    cold re-read of the tables returns bit-equal artifacts and the same
    generation id."""
    from chroma_rs_spark.collection import _INDEX_MEMO, _load_generation
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, ids, vecs = ivfpq_coll
    c.build_ivf_index(n_centroids=4, max_iter=3)
    c.build_pq_index(m=2, k=8, sample_size=64)
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    jobs, _, _ = count_jobs_stages(engine.spark, c.materialize_ivfpq_codes)
    assert jobs == 1, f"materialize after a build ran {jobs} jobs"
    seeded = {ix: _load_generation(engine, c, ix) for ix in ("ivf", "pq", "ivfpq")}
    _INDEX_MEMO.clear()
    for ix, (loaded, gen) in seeded.items():
        cold, cold_gen = _load_generation(engine, c, ix)
        assert cold_gen == gen, ix
        assert _hexed(cold) == _hexed(loaded), ix


def test_removed_index_takes_the_transient_path(ivfpq_coll, engine, monkeypatch):
    """A memo entry never outlives its index dir: once the dir is gone
    the query trains a transient index, as if none had been built."""
    import shutil

    from chroma_rs_spark.collection import IVFPQ_INDEX_DIR, _INDEX_MEMO, _load_index
    from chroma_rs_spark.operators import pq

    c, ids, vecs = ivfpq_coll
    c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=64)
    c.query([vecs[0]], n_results=3, index="ivfpq", n_probe=2).collect()
    root = os.path.join(engine.collection_dir(c.id), IVFPQ_INDEX_DIR)
    assert root in _INDEX_MEMO
    shutil.rmtree(root)

    trained = []
    train = pq.train_ivfpq

    def spy(*args, **kwargs):
        trained.append(kwargs)
        return train(*args, **kwargs)

    monkeypatch.setattr(pq, "train_ivfpq", spy)
    res = c.query(
        [vecs[0]], n_results=3, index="ivfpq", n_probe=2, oversample=6
    ).collect()
    assert len(trained) == 1 and trained[0]["strict"] is False
    assert len(res) == 3 and res[0]["id"] == ids[0]
    assert _load_index(engine, c, "ivfpq") is None and root not in _INDEX_MEMO


def test_rebuild_writes_identical_tables(ivfpq_coll, engine):
    """Training is a function of the collection: the md5 sample, its
    seeds and numpy Lloyd's are deterministic, so two builds of one
    collection write the same centroid and codebook tables."""
    from chroma_rs_spark.collection import IVFPQ_INDEX_DIR

    c, _ids, _vecs = ivfpq_coll
    root = os.path.join(engine.collection_dir(c.id), IVFPQ_INDEX_DIR)

    def tables():
        c.build_ivfpq_index(n_centroids=4, max_iter=3, m=2, k=8, sample_size=40)
        return [
            sorted(tuple(r) for r in engine.spark.read.parquet(
                os.path.join(root, name)
            ).collect())
            for name in ("centroids", "codebooks")
        ]

    first = tables()
    assert len(first[0]) == 4 * 4 and len(first[1]) == 2 * 8 * 2
    assert tables() == first
