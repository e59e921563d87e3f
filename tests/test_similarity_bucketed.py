"""cosine_pairs_bucketed (the no-collect near-dup scale path):
soundness against the exact all-pairs baseline on the driver table,
recall on synthetic true near-duplicates (the workload the banding is
tuned for — sign-LSH collision probability rises with similarity, so
recall is measured at near-dup similarity, not at arbitrary
thresholds)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from chroma_rs_spark.functions.vector import dot_product, l2_norm
from chroma_rs_spark.operators.similarity import cosine_pairs_bucketed
from chroma_rs_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
THRESHOLD = 0.35


def _exact_pairs(df):
    a = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    sim = F.round(
        dot_product(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= THRESHOLD)
    )


def test_bucketed_pairs_sound_on_driver_table(spark):
    """Every reported pair is a real threshold pair with the bit-same
    rounded similarity (subset contract)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in _exact_pairs(emb).collect()
    }
    assert exact, "test data must contain pairs above the threshold"
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_pairs_bucketed(emb, threshold=THRESHOLD).collect()
    }
    for k, v in got.items():
        assert k in exact and exact[k] == v


def test_bucketed_recall_on_true_near_dups(spark):
    """Planted near-duplicates (cosine ≥ ~0.99) must be recovered:
    sign-LSH per-plane agreement ≈ 0.97 at that similarity, so with 4
    bands of 8 planes the expected pair recall is >0.99."""
    rng = np.random.default_rng(7)
    base = rng.normal(0.0, 1.0, size=(40, 64))
    rows = []
    dup_pairs = set()
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        noisy = v + rng.normal(0.0, 0.02, size=64)  # sim ≈ 0.999
        rows.append((2 * i + 1, [float(x) for x in noisy]))
        dup_pairs.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(df, threshold=0.98).collect()
    }
    found = dup_pairs & got
    recall = len(found) / len(dup_pairs)
    assert recall >= 0.9, f"recall {recall:.2f} on planted near-dups"


def test_more_bands_never_lose_pairs(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    few = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(emb, threshold=THRESHOLD, bands=2).collect()
    }
    more = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(emb, threshold=THRESHOLD, bands=4).collect()
    }
    assert few <= more


def _edge_pair_corpus():
    """60 sequential ids of random 16-dim vectors (with n_blocks=2
    about half of all cross-block pairs have block order opposite to id
    order), 6 identical copies of one vector in DESCENDING id order (15
    exactly tied pairs at sim 1.0: a local select that drops ties at
    its cutoff keeps the high-id pairs it sees first), and the
    unscorable rows: NULL, zero, NaN and inf."""
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(0.0, 1.0, size=16)]) for i in range(60)]
    twin = [float(x) for x in rng.normal(0.0, 1.0, size=16)]
    rows += [(105 - i, twin) for i in range(6)]
    rows += [
        (200, None),
        (201, [0.0] * 16),
        (202, [float("nan")] + [1.0] * 15),
        (203, [float("inf")] + [1.0] * 15),
    ]
    return rows


def _reference_pairs(rows, top_n):
    """Test-local float64 model of the exact pair contract: every
    id_a < id_b pair with a finite cosine, rounded half-even to 6
    decimals, ordered (sim desc, id_a, id_b), first top_n."""
    ids = np.array([i for i, v in rows if v is not None])
    mat = np.array([v for _, v in rows if v is not None], dtype=np.float64)
    norm = np.sqrt((mat * mat).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.round((mat @ mat.T) / np.outer(norm, norm), 6)
    pairs = [
        (int(ids[a]), int(ids[b]), float(sims[a, b]))
        for a in range(len(ids))
        for b in range(len(ids))
        if ids[a] < ids[b] and np.isfinite(sims[a, b])
    ]
    pairs.sort(key=lambda p: (-p[2], p[0], p[1]))
    return pairs[:top_n]


@pytest.mark.parametrize(
    "shape,n_blocks",
    [("collect", None), ("tiles", None), ("tiles", 1), ("tiles", 2), ("tiles", 7)],
)
def test_cosine_topk_pairs_matches_reference(
    spark, tmp_path, monkeypatch, shape, n_blocks
):
    """The one exact pair operator equals an independent numpy model on
    both sides of its size gate (the tile shape forced by lowering the
    gate constant), at any tiling — including more blocks than some
    tiles have rows, the cutoff falling inside a run of tied sims, and
    NULL/zero/NaN/inf vectors, which never pair."""
    from chroma_rs_spark.operators import similarity

    if shape == "tiles":
        monkeypatch.setattr(similarity, "COLLECT_MAX_BYTES", -1)
    rows = _edge_pair_corpus()
    # a parquet scan carries a real size estimate (an in-memory frame's
    # is unknown, which always selects the tile shape)
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        str(tmp_path / "corpus")
    )
    df = spark.read.parquet(str(tmp_path / "corpus"))
    for top_n in (4, 30):
        out = similarity.cosine_topk_pairs(df, top_n=top_n, n_blocks=n_blocks)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("FlatMapGroupsInPandas" in plan) == (shape == "tiles")
        got = [(r["id_a"], r["id_b"], r["cosine_sim"]) for r in out.collect()]
        assert got == _reference_pairs(rows, top_n)


def test_semantic_dedup_planted_twins(spark):
    """SemDeDup contract on planted twins: an EXACT twin (cosine 1.0,
    same cluster by construction) must produce exactly one duplicate
    per twin pair — the member farther from the centroid, ties to the
    higher id — while a NEGATED twin (cosine -1.0) must never mark
    either side. Separated base vectors stay non-duplicates."""
    from chroma_rs_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    rows = []
    # 40 well-spread base vectors (normalized gaussians, dim 8)
    base = {}
    for i in range(40):
        v = rng.normal(0.0, 1.0, size=8)
        v = v / np.linalg.norm(v)
        base[i] = [float(x) for x in v]
        rows.append((i, base[i]))
    # exact twins for ids 0..9, negated twins for ids 10..19
    for i in range(10):
        rows.append((1000 + i, base[i]))
    for i in range(10, 20):
        rows.append((1000 + i, [-x for x in base[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.9).collect()}
    assert len(out) == 60
    # every exact-twin pair: both in the same cluster, exactly one dup
    # (equal sq_dist -> the tie rule keeps the LOWER id)
    for i in range(10):
        a, b = out[i], out[1000 + i]
        assert a["cluster"] == b["cluster"]
        assert a["sq_dist"] == b["sq_dist"]
        assert not a["is_dup"] and b["is_dup"]
    # negated twins are never duplicates (cosine -1 < threshold), and
    # neither is their original marked because of them
    for i in range(10, 20):
        assert not out[1000 + i]["is_dup"]
    # output is complete and typed: cluster is int64, sq_dist rounded
    sd = semantic_dedup(df, threshold=0.9)
    assert dict(sd.dtypes)["cluster"] == "bigint"
    assert dict(sd.dtypes)["is_dup"] == "boolean"


def test_semantic_dedup_size_derived_k_bounds_pair_join(spark):
    """The round-6 scale flaw: clusters pinned to label cardinality made
    the within-cluster self-join (n/k)^2 with CONSTANT k. k must now
    grow as ceil(sqrt(n)) — check the trained cluster count actually
    scales with the corpus instead of the (absent) label column."""
    from chroma_rs_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, size=8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, threshold=0.99)
    n_clusters = out.select("cluster").distinct().count()
    # ceil(sqrt(200)) = 15 seeds; allow a few empty clusters after
    # Lloyd's but the count must be in sqrt-of-n territory, nowhere
    # near O(1)
    assert 8 <= n_clusters <= 15
    # explicit k override is honored
    n2 = (
        semantic_dedup(df, threshold=0.99, k=4)
        .select("cluster")
        .distinct()
        .count()
    )
    assert n2 <= 4


def test_pair_kernels_reject_non_integral_ids(spark, monkeypatch):
    """ADVICE r6: the numpy pair kernel hardcodes 'id_a long, id_b
    long' — a string id must fail LOUDLY at plan-build, on both sides
    of cosine_topk_pairs' size gate."""
    from chroma_rs_spark.operators import similarity

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(TypeError, match="integral"):
        similarity.cosine_topk_pairs(df)
    monkeypatch.setattr(similarity, "COLLECT_MAX_BYTES", -1)
    with pytest.raises(TypeError, match="integral"):
        similarity.cosine_topk_pairs(df)


def test_ann_recall_perfect_and_missed(spark):
    """A probe whose true neighbor shares its sign bucket scores
    recall 1 at k=1; a probe whose nearest neighbor lies across a sign
    boundary scores 0 — the miss the evaluation exists to expose."""
    from chroma_rs_spark.operators.similarity import ann_recall

    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),     # probe A
        (1, [0.9, 1.0, 1.0, 1.0]),     # same bucket, true NN of A
        (2, [-1.0, 1.0, 1.0, 1.0]),    # probe B
        (3, [0.001, 1.0, 1.0, 1.0]),   # true NN of B, bucket differs at bit 1
        (4, [-1.0, -1.0, -1.0, -1.0]), # B's only same-bucket company... not
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter("vec_id IN (0, 2)").select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("query_embedding")
    )
    # hamming_probes=0: the single-bucket miss this test documents is
    # exactly what the round-8 radius-2 DEFAULT exists to fix (the
    # recovery is asserted in ..._multiprobe_recovers_boundary_miss)
    out = {
        r["query_id"]: r
        for r in ann_recall(
            emb, probes, k=1, n_planes=4, hamming_probes=0
        ).collect()
    }
    assert out[0]["n_hits"] == 1 and out[0]["recall"] == 1.0
    # B's exact NN (vec 3) hashes to a different bucket -> missed
    assert out[2]["n_hits"] == 0 and out[2]["recall"] == 0.0
    assert out[2]["n_exact"] == 1


def test_ann_recall_unscorable_probe(spark):
    from chroma_rs_spark.operators.similarity import ann_recall

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 1.9]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    probes = emb.select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("query_embedding")
    )
    out = {
        r["query_id"]: r
        for r in ann_recall(emb, probes, k=1, n_planes=2).collect()
    }
    assert out[0]["recall"] == 1.0 and out[1]["recall"] == 1.0
    for q in (2, 3):   # NULL / zero-norm probes: zeros + NULL recall
        assert out[q]["n_exact"] == 0 and out[q]["recall"] is None


def test_ann_recall_multiprobe_recovers_boundary_miss(spark):
    """The radius-1 probe reaches across the sign boundary that made
    probe B miss its true neighbor at radius 0."""
    from chroma_rs_spark.operators.similarity import ann_recall, signbucket_ann

    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 1.0, 1.0, 1.0]),
        (2, [-1.0, 1.0, 1.0, 1.0]),
        (3, [0.001, 1.0, 1.0, 1.0]),
        (4, [-1.0, -1.0, -1.0, -1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter("vec_id IN (0, 2)").select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("query_embedding")
    )
    out = {
        r["query_id"]: r
        for r in ann_recall(
            emb, probes, k=1, n_planes=4, hamming_probes=1
        ).collect()
    }
    assert out[2]["n_hits"] == 1 and out[2]["recall"] == 1.0
    assert out[0]["recall"] == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hamming_probes"):
        signbucket_ann(emb, probes, n_planes=4, hamming_probes=5)


def test_mmr_topk_diversifies_planted_clones(spark):
    """Plain KNN fills the top with a clone cluster; MMR keeps the most
    relevant clone and pulls distinct-but-relevant vectors forward.
    lam=1 degenerates to plain KNN order; lam validated."""
    import pytest as _pytest

    from chroma_rs_spark.operators.knn import knn_exact
    from chroma_rs_spark.operators.similarity import mmr_topk

    # probe q; 4 near-clones of q; 3 moderately-relevant distinct dirs
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.998, 0.02, 0.0, 0.0]),
        (3, [0.997, 0.03, 0.0, 0.0]),
        (10, [0.8, 0.6, 0.0, 0.0]),
        (11, [0.8, 0.0, 0.6, 0.0]),
        (12, [0.8, 0.0, 0.0, 0.6]),
    ]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = [(0, [1.0, 0.0, 0.0, 0.0])]
    knn_top4 = [
        r["vec_id"]
        for r in sorted(
            knn_exact(items, probes, k=4, metric="cosine", item_id="vec_id").collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert knn_top4 == [0, 1, 2, 3]  # clones crowd plain KNN
    mmr = mmr_topk(items, probes, k=4, pool=7, lam=0.5)
    got = [r["vec_id"] for r in sorted(mmr.collect(), key=lambda r: r["rank"])]
    assert got[0] == 0  # first pick is pure relevance
    # diversification: the remaining picks are NOT the clone cluster
    assert set(got[1:]) & {10, 11, 12}, got
    # lam=1 degenerates to plain KNN order
    pure = mmr_topk(items, probes, k=4, pool=7, lam=1.0)
    assert [r["vec_id"] for r in sorted(pure.collect(), key=lambda r: r["rank"])] == knn_top4
    with _pytest.raises(ValueError):
        mmr_topk(items, probes, lam=1.5)


def test_mmr_topk_advice_hardening(spark):
    """Round-12 ADVICE fixes: (1) string probe ids survive the output
    createDataFrame (the probe-id type was hardcoded long); (2) a
    zero-norm item can never reach the pool — its NaN pairwise cosine
    would win every greedy comparison; (3) the pool^2 driver collect
    has a hard validated cap."""
    import pytest as _pytest

    from chroma_rs_spark.operators.similarity import MMR_MAX_POOL, mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (7, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: cosine undefined
        (10, [0.8, 0.6, 0.0, 0.0]),
        (11, [0.8, 0.0, 0.6, 0.0]),
    ]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = [("qa", [1.0, 0.0, 0.0, 0.0])]
    got = mmr_topk(items, probes, k=3, pool=5, lam=0.5).collect()
    assert got and all(r["query_id"] == "qa" for r in got)
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert 7 not in ids  # zero-norm item filtered, not NaN-promoted
    assert ids[0] == 0
    assert all(r["mmr_score"] == r["mmr_score"] for r in got)  # no NaN
    with _pytest.raises(ValueError, match="pool"):
        mmr_topk(items, probes, pool=MMR_MAX_POOL + 1)
