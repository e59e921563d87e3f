"""PQ index on the public Collection API (collection.py:build_pq_index
/ query(index="pq")): persisted codebook artifact, exact re-scored
distances, metric gating, read-only transient path."""

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
def pq_coll(engine):
    rng = np.random.default_rng(11)
    centers = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    ids, vecs = _clustered(rng, 15, centers)
    c = engine.create_collection("pq_items", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs, documents=[f"doc {i}" for i in ids])
    return c, ids, vecs


def _cosine_dist(a, b):
    num = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(1.0 - num / (na * nb), 6) + 0.0


def test_build_persists_and_distances_are_exact(pq_coll):
    c, ids, vecs = pq_coll
    path = c.build_pq_index(m=2, k=8, sample_size=64)
    assert os.path.isdir(path)
    probe = vecs[5]
    res = c.query([probe], n_results=5, index="pq", oversample=6).collect()
    assert len(res) == 5
    by_id = dict(zip(ids, vecs))
    for r in res:
        # PQ affects recall only — every returned distance is the
        # exact rounded cosine distance, same as the exact path
        assert r["distance"] == _cosine_dist(probe, by_id[r["id"]])
    assert res[0]["id"] == ids[5] and res[0]["distance"] == 0.0
    assert res[0]["document"] == f"doc {ids[5]}"


def test_pq_recall_on_clustered_data(pq_coll):
    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=8, sample_size=64)
    for qi in (0, 20, 45):
        exact = [r["id"] for r in c.query([vecs[qi]], n_results=5).collect()]
        approx = [
            r["id"]
            for r in c.query(
                [vecs[qi]], n_results=5, index="pq", oversample=8
            ).collect()
        ]
        # well-separated clusters + 8x oversample: exact top-5 recovered
        assert approx == exact


def test_pq_transient_read_only_and_l2(engine):
    rng = np.random.default_rng(3)
    ids, vecs = _clustered(rng, 12, [[1.0, 0.0], [0.0, 1.0]])
    c = engine.create_collection("pq_l2", {"hnsw:space": "l2"})
    c.add(ids=ids, embeddings=vecs)
    res = c.query([vecs[0]], n_results=3, index="pq", oversample=8)
    assert res.collect()[0]["id"] == ids[0]
    from chroma_rs_spark.collection import PQ_INDEX_DIR

    idx_dir = os.path.join(c._engine.collection_dir(c.id), PQ_INDEX_DIR)
    # reads never write: the transient query left no index directory
    assert not os.path.isdir(idx_dir)


def test_pq_rejects_ip_metric(engine):
    c = engine.create_collection("pq_ip", {"hnsw:space": "ip"})
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(EngineError, match="l2/cosine"):
        c.query([[1.0, 0.0]], index="pq")
    with pytest.raises(EngineError, match="l2/cosine"):
        c.build_pq_index()


def _stored(c, col="_pq"):
    from chroma_rs_spark.collection import items_df

    return {
        r["id"]: r[col]
        for r in items_df(c._engine, c, keep_codes=True).select("id", col).collect()
    }


def test_materialized_codes_serve_queries_and_absorb_late_adds(pq_coll):
    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=8, sample_size=64)
    path = c.materialize_pq_codes()
    # the codes live in the rows: the data is rewritten, and no codes
    # table is written beside it
    assert path == c._engine.data_path(c.id)
    cdir = c._engine.collection_dir(c.id)
    assert not os.path.exists(os.path.join(cdir, "pq_codes"))
    probe = vecs[7]
    res = c.query([probe], n_results=5, index="pq", oversample=8).collect()
    assert res[0]["id"] == ids[7] and res[0]["distance"] == 0.0
    # late-added item (no stored code) is still searchable
    c.add(ids=["late"], embeddings=[[0.0, 0.0, 0.0, 1.01]])
    got = c.query(
        [[0.0, 0.0, 0.0, 1.01]], n_results=1, index="pq", oversample=8
    ).collect()
    assert got[0]["id"] == "late" and got[0]["distance"] == 0.0
    stored = _stored(c)
    assert stored["late"] is None
    assert all(len(stored[i]["codes"]) == 2 for i in ids)
    assert len({stored[i]["gen"] for i in ids}) == 1


def test_materialize_requires_persisted_index(engine):
    c = engine.create_collection("codes_noindex", {"hnsw:space": "cosine"})
    c.add(ids=["a"], embeddings=[[1.0, 0.0]])
    with pytest.raises(EngineError, match="build_pq_index"):
        c.materialize_pq_codes()


def test_rebuild_with_different_m_invalidates_stale_codes(pq_coll):
    """ADVICE regression: rebuilding codebooks with a different m must
    not rank with codes encoded under the old codebooks — larger m
    crashed ADC (codes[:, mi] out of range), smaller m silently ranked
    garbage candidates. The rebuild's new generation id makes every
    stored code stale."""
    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=8, sample_size=64)
    c.materialize_pq_codes()
    assert c.stats()["pq_codes"]
    # rebuild with LARGER m: stale 2-subspace codes would crash ADC
    c.build_pq_index(m=4, k=8, sample_size=64)
    assert c.stats()["pq_codes"] is False, "stale codes must be invalidated"
    probe = vecs[3]
    res = c.query([probe], n_results=3, index="pq", oversample=8).collect()
    assert res[0]["id"] == ids[3] and res[0]["distance"] == 0.0
    # and with SMALLER m after re-materializing under m=4
    c.materialize_pq_codes()
    c.build_pq_index(m=2, k=8, sample_size=64)
    res = c.query([probe], n_results=3, index="pq", oversample=8).collect()
    assert res[0]["id"] == ids[3] and res[0]["distance"] == 0.0


def test_rebuild_re_encodes_old_generation_rows(pq_coll):
    """Rows whose stored code is of an earlier build are encoded on
    the fly under the live codebooks: the query returns exactly what
    it returns once every row holds a code of the new generation."""
    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=8, sample_size=64)
    c.materialize_pq_codes()
    old_gen = {v["gen"] for v in _stored(c).values()}
    c.build_pq_index(m=4, k=4, sample_size=64)
    probes = [vecs[1], vecs[22], vecs[50]]

    def run():
        return [
            tuple(r)
            for r in c.query(probes, n_results=6, index="pq", oversample=2).collect()
        ]

    stale = run()
    c.materialize_pq_codes()
    stored = _stored(c)
    assert all(len(v["codes"]) == 4 for v in stored.values())
    assert not {v["gen"] for v in stored.values()} & old_gen
    assert run() == stale


def test_update_of_an_embedding_re_encodes_its_row(pq_coll):
    """update() of an embedding voids that row's stored code, so the
    query encodes the new vector instead of ranking a code of the old
    one; updates that keep the embedding keep the code."""
    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=8, sample_size=64)
    c.materialize_pq_codes()
    before = _stored(c)
    far = [0.0, 0.0, 0.0, 1.0]  # cluster 3; ids[0] sits in cluster 0
    c.update(ids=[ids[0]], embeddings=[far])
    c.update(ids=[ids[1]], documents=["new text"])
    after = _stored(c)
    assert after[ids[0]] is None
    assert after[ids[1]] == before[ids[1]]
    res = c.query([far], n_results=1, index="pq", oversample=1).collect()
    assert res[0]["id"] == ids[0] and res[0]["distance"] == 0.0


def test_batched_query_rescores_the_union_of_the_pools(pq_coll):
    """A batched pq query ranks every probe exactly over the UNION of
    the probes' ADC pools (the pooled ids of every probe in the
    batch), not over its own pool: on this batch a per-probe pool
    would return other rows."""
    from chroma_rs_spark.collection import _load_index, items_df
    from chroma_rs_spark.operators.pq import _unit_probe, pq_adc_topk

    c, ids, vecs = pq_coll
    c.build_pq_index(m=2, k=4, sample_size=64)
    c.materialize_pq_codes()
    probes = [vecs[0], vecs[3], vecs[8], vecs[12]]
    n, pool_k = 3, 3
    got = [
        tuple(r)
        for r in c.query(
            probes, n_results=n, index="pq", oversample=1, include=["distances"]
        ).collect()
    ]
    # the pools, from the stored codes with the numpy ADC operator
    codes = items_df(c._engine, c, keep_codes=True).selectExpr("id", "_pq.codes AS codes")
    books = _load_index(c._engine, c, "pq")
    pools = {}
    for r in pq_adc_topk(
        codes, books, [(i, _unit_probe(p)) for i, p in enumerate(probes)],
        k=pool_k, id_type="string",
    ).collect():
        pools.setdefault(r["query_id"], set()).add(r["id"])
    union = set().union(*pools.values())
    exact = c.query(probes, n_results=len(ids), include=["distances"]).collect()

    def ranked(allowed):
        out = []
        for q in range(len(probes)):
            rows = [r for r in exact if r["query_id"] == q and r["id"] in allowed(q)]
            out += [(q, i + 1, r["id"], r["distance"]) for i, r in enumerate(rows[:n])]
        return out

    assert got == ranked(lambda q: union)
    assert got != ranked(lambda q: pools[q])


def test_filtered_pq_query_candidates_come_from_matching_docs(pq_coll):
    """ADVICE regression: with a persisted codes table, a selective
    where-filter must prune BEFORE ADC candidate selection — previously
    the unfiltered corpus filled the oversampled pool and the filter at
    re-scoring could starve the result below n_results."""
    c, ids, vecs = pq_coll
    # tag a small minority of docs far from cluster 0's probe
    minority = [i for i in ids if i.startswith("c3_")]
    c.build_pq_index(m=2, k=8, sample_size=64)
    c.materialize_pq_codes()
    # update metadata for the minority
    c.update(ids=minority, metadatas=[{"grp": "keep"} for _ in minority])
    probe = vecs[0]  # cluster 0 center-ish: every unfiltered ADC
    # candidate would be a c0/c1/c2 doc at low oversample
    res = c.query(
        [probe],
        n_results=5,
        index="pq",
        oversample=2,
        where={"grp": {"$eq": "keep"}},
    ).collect()
    assert len(res) == 5, f"filter starved the pool: got {len(res)}"
    assert all(r["id"].startswith("c3_") for r in res)


def test_atomic_index_write_crash_window_preserves_old_index(pq_coll):
    """ADVICE regression: _atomic_index_write now parks the old index
    (two-rename discipline) instead of rmtree-ing it before the swap —
    a crash between the renames restores the OLD index on next load."""
    c, ids, vecs = pq_coll
    path = c.build_pq_index(m=2, k=8, sample_size=64)
    # simulate the crash window: old parked aside, new never promoted
    os.replace(path, path + ".__old")
    from chroma_rs_spark.collection import _committed_index_dir

    assert _committed_index_dir(path), "parked old index must be restored"
    res = c.query([vecs[0]], n_results=1, index="pq", oversample=8).collect()
    assert res[0]["id"] == ids[0] and res[0]["distance"] == 0.0


def test_pq_l2_recall_band_on_near_uniform_embeddings(engine, spark):
    """The hard case for PQ: the driver table's near-uniform synthetic
    embeddings under l2 (m=8, k=16 transient codebooks, 4x oversample).
    Every re-scored distance is the exact path's squared-L2 double, the
    probe itself stays at rank 1 with distance 0.0, and recall against
    the exact top-10 holds the measured band."""
    from pyspark.sql import functions as F

    from tests.conftest import SF001_DIR

    emb = spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")
    c = engine.create_collection("pq_uniform", {"hnsw:space": "l2"})
    c.add_df(emb.select(F.col("vec_id").alias("id"), "embedding"))
    by_id = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    hits = total = 0
    for qid in (0, 7, 42):
        probe = by_id[qid]
        exact = {
            r["id"]: r["distance"]
            for r in c.query([probe], n_results=10).collect()
        }
        res = c.query([probe], n_results=10, index="pq", oversample=4).collect()
        res.sort(key=lambda r: r["rank"])
        assert res[0]["id"] == str(qid) and res[0]["distance"] == 0.0
        for r in res:
            total += 1
            if r["id"] in exact:
                hits += 1
                assert r["distance"] == exact[r["id"]]
    # measured band (>= 0.5 observed with margin)
    assert hits / total >= 0.4, f"recall {hits / total:.2f} below band"


def test_non_finite_row_stays_out_of_the_training_sample(engine):
    """One NaN component in a 200-row cosine collection: its stored
    norm is NaN, so the row stays out of the md5 training sample. Were
    it sampled, its cell's mean and every ADC distance built on it
    would be NaN: the transient pq and ivfpq queries returned no row
    and the ivfpq build lost all but one cell."""
    rng = np.random.default_rng(4)
    vecs = rng.normal(size=(200, 16))
    vecs[17, 3] = np.nan
    c = engine.create_collection("nan_row", {"hnsw:space": "cosine"})
    c.add(ids=[f"r{i:03d}" for i in range(200)], embeddings=vecs.tolist())
    probes = vecs[[0, 50, 100, 150]].tolist()
    for index in ("pq", "ivfpq"):
        res = c.query(probes, n_results=10, index=index).collect()
        assert len(res) == 40, (index, len(res))
        assert all(math.isfinite(r["distance"]) for r in res)
    c.build_ivfpq_index(n_centroids=4)
    assert len(c.query(probes, n_results=10, index="ivfpq").collect()) == 40
