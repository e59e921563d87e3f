"""IVF ANN (operators/ivf.py): assignment determinism and recall
against exact KNN on real sf0.001 embeddings."""

import pytest
from pyspark.sql import functions as F

from chroma_rs_spark.operators.ivf import assign_cells, ivf_topk
from chroma_rs_spark.operators.knn import knn_exact
from chroma_rs_spark.sources.tables import load_table
from tests.conftest import SF001_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF001_DIR, "embeddings")


def test_assignment_covers_all_items_once(emb):
    centroids = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    assigned = assign_cells(emb, centroids)
    assert assigned.count() == emb.count()
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= {c for c, _ in centroids}


def test_ivf_recall_vs_exact(emb):
    k = 10
    approx = ivf_topk(emb, k=k, n_centroids=16, n_probe=4, n_queries=5)
    got = {
        (r["query_id"], r["neighbor_id"]) for r in approx.collect()
    }
    queries = [
        (r["vec_id"], r["embedding"]) for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    exact = knn_exact(emb, queries, k=k, metric="cosine", item_id="vec_id")
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    # every query returns a full top-k, and each query's own vector
    # (distance 0) must always survive probing
    assert len(got) == 5 * k
    for qid in range(5):
        assert (qid, qid) in got
    recall = len(got & want) / len(want)
    assert recall >= 0.5, recall  # probing 4/16 cells keeps most true neighbors


def test_ivf_with_trained_centroids(emb):
    """The kmeans-trained centroid path (the documented swap-in for
    the lowest-id placeholder) plugs into the same search plan and
    keeps recall in the same band as the placeholder."""
    from chroma_rs_spark.operators.ivf import (
        collect_small_vectors,
        ivf_topk,
        train_centroids_kmeans,
    )

    trained = train_centroids_kmeans(emb, n_centroids=8, max_iter=4)
    assert len(trained) == 8
    assert all(len(v) == 64 for _, v in trained)
    _, queries = collect_small_vectors(emb, 8, 5)
    res = ivf_topk(
        emb, k=10, n_probe=4, precollected=(trained, queries)
    ).collect()
    # 5 queries x 10 neighbors, rank-1 self-match at distance 0
    assert len(res) == 50
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r["rank"])
        assert top["neighbor_id"] == qid and top["distance"] == 0.0

    # recall vs exact cosine on the same probes stays in the IVF band
    exact = knn_exact(emb, queries, k=10, metric="cosine", item_id="vec_id")
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in res}
    recall = len(got & want) / len(want)
    assert recall >= 0.5, recall


def test_kmeans_train_collapse_strict_vs_tolerant(spark):
    from chroma_rs_spark.operators.ivf import ivf_topk, train_centroids_kmeans

    # every vector identical: k=4 seeds all converge to one point, so
    # 3 clusters MUST empty during Lloyd's iterations
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="survived"):
        train_centroids_kmeans(df, n_centroids=4, max_iter=3)
    cents = train_centroids_kmeans(df, n_centroids=4, max_iter=3, strict=False)
    assert 1 <= len(cents) < 4
    # the surviving-cluster index still searches end-to-end
    res = ivf_topk(
        df, k=3, n_probe=1, n_queries=1,
        precollected=(cents, [(0, [1.0, 2.0, 3.0, 4.0])]),
    ).collect()
    assert len(res) == 3 and res[0]["distance"] == 0.0


def test_ivf_recall_beats_probe_fraction_on_clustered_corpus(spark):
    """The round-8 clustered-corpus proof (tools/clustered_ann_proof.py)
    in miniature: on a mixture-of-gaussians corpus whose clusters the
    k-means cells can track, IVF recall@k far exceeds the probed
    corpus fraction — the property that makes IVF the scale path on
    real (clustered) embedding spaces. md5-seeded like the tool, so
    the corpus is deterministic without RNG state."""
    import hashlib

    from chroma_rs_spark.operators.ivf import ivf_topk, train_centroids_kmeans
    from chroma_rs_spark.operators.similarity import recall_vs_exact
    from pyspark.sql import functions as F

    def u(key: str) -> float:
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 16**8

    k_true, dim, n = 4, 16, 256
    centers = [
        [2.0 * u(f"c|{c}|{d}") - 1.0 for d in range(dim)]
        for c in range(k_true)
    ]
    rows = [
        (
            i,
            [
                centers[i % k_true][d] + 0.4 * (u(f"p|{i}|{d}") - 0.5)
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trained = train_centroids_kmeans(
        emb, n_centroids=k_true, max_iter=5, strict=False
    )
    queries = [(i, rows[i][1]) for i in range(8)]
    approx = ivf_topk(
        emb, k=10, n_probe=1, precollected=(trained, queries)
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    recalls = [
        r["recall"]
        for r in recall_vs_exact(emb, probes, approx, k=10).collect()
    ]
    avg = sum(recalls) / len(recalls)
    # probing 1 of >=3 surviving cells scores <=~40% of the corpus;
    # on the clustered corpus recall must be far above that fraction
    assert len(trained) >= 3
    assert avg >= 0.9, avg
