"""Similarity search over embedding columns (SURVEY.md §2.3 [EXT]).

* `cosine_topk_pairs` — the one exact all-pairs top-N most-similar
  pairs operator: numpy-scored (operators/kernel.py), with a
  driver-collect shape for small inputs and a tiled shape above a
  size gate; quadratic compute either way.
* `signbucket_ann` — LSH-bucketed approximate nearest neighbours:
  vectors are bucketed by the sign pattern of their leading
  dimensions (a fixed, data-independent set of axis-aligned
  hyperplanes — deterministic and replicable in ANSI SQL), and
  search touches only the probe's bucket. At 100 TB the bucket join
  shuffles on the bucket key instead of forming a cross product;
  recall/cost is tuned by `n_planes` (buckets = 2^n_planes).

Exact KNN (brute force top-k per query) lives in operators/knn.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.functions.vector import cosine_distance, dot_product, l2_norm
from chroma_rs_spark.operators import kernel
from chroma_rs_spark.operators.graph import _require_integral_id
from chroma_rs_spark.plans import fan_out
from chroma_rs_spark.session import local_frame

def _norm_scorable(norm_col: Column) -> Column:
    """norm ∈ (0, inf) — semantic_dedup's unscorable-row exclusion —
    as ONE reference to the norm column.

    The spelled-out `(n != 0) & ~isnan(n) & (n != inf)` references the
    aliased norm THREE times; pushed below the projection that computes
    it, each reference re-evaluates the linear-cost l2_norm fold (HOFs
    are CodegenFallback — no subexpression elimination; the round-13
    pair-sim finding, VERDICT r13 #7). Here `nullif` maps inf to NULL,
    `nanvl` maps NaN to 0, and a single `> 0` comparison rejects
    0 / NaN / inf / NULL alike — equivalent on every reachable value
    (l2_norm is a sqrt: never negative, never -inf)."""
    return (
        F.nanvl(F.nullif(norm_col, F.lit(float("inf"))), F.lit(0.0))
        > F.lit(0.0)
    )


# Above this optimizer-estimated input size (or when the estimate is
# unknown) the collect shape's driver-side reference matrix becomes the
# bottleneck, then the OOM: the numpy tile shape takes over.
COLLECT_MAX_BYTES = 256 << 20
# tile-shape sizing: about one block side per this many estimated bytes
TILE_TARGET_BYTES = 64 << 20


def cosine_topk_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    top_n: int = 20,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact top-N most-cosine-similar pairs (id_a < id_b, cosine_sim
    rounded to 6 decimals), ordered by (cosine_sim desc, id_a, id_b).

    NULL, zero-norm and non-finite vectors are unscorable (their
    similarity is NaN) and excluded. Every pair is scored by the
    shared numpy kernel (operators/kernel.py: one float64 matmul per
    block, half-even rounding, a tile-local top-N that keeps ALL ties
    at the cutoff so the global id tie-break never loses a candidate),
    and the global top-N is one TakeOrderedAndProject over the
    candidates — never a sort of the n^2/2 pair set.

    Two physical shapes, chosen by the optimizer's size estimate of the
    (id, embedding) projection; both run the same kernel, so the
    result is identical on either side of the gate:

    * collect (estimate <= COLLECT_MAX_BYTES): the reference matrix is
      collected to the driver and each Arrow batch of rows is scored
      against it in one stage. Fastest for small corpora, where the
      tile shape's shuffle costs more than the scoring.
    * tiles (larger or unknown estimate): rows hash into `n_blocks`
      blocks (default from the estimate, at most 64; 16 when there is
      no estimate) and ship to their upper-triangle (bi, bj) tile
      memberships — (B+1) copies per row — and each tile group is
      scored in applyInPandas. No driver materialization; per-tile
      memory is 2*(n/B)*dim*8 bytes. About 12x faster than the collect
      shape at 20k vectors (SCALE.md).

    Still O(n^2) compute — it is exact; `cosine_pairs_bucketed` is the
    approximate scale path.
    """
    from chroma_rs_spark.plans.partitioning import plan_size_bytes

    _require_integral_id(df, id_col, "cosine_topk_pairs")
    src = df.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb")
    )
    est = plan_size_bytes(src)
    schema = "id_a long, id_b long, cosine_sim double"
    if 0 <= est <= COLLECT_MAX_BYTES:
        cand = _collect_shape(src, top_n, schema)
    else:
        if n_blocks is None:
            n_blocks = 16 if est < 0 else max(2, min(64, est // TILE_TARGET_BYTES + 1))
        cand = _tile_shape(src, top_n, n_blocks, schema)
    return cand.orderBy(F.col("cosine_sim").desc(), "id_a", "id_b").limit(top_n)


def _collect_shape(src: DataFrame, top_n: int, schema: str) -> DataFrame:
    ref = src.orderBy("_id").toPandas()
    if ref.empty:
        return local_frame(src.sparkSession, [], schema)
    ref_ids = ref["_id"].to_numpy()
    ref_mat = kernel.matrix(ref["_emb"])
    ref_norm = kernel.norms(ref_mat)

    def score(pdf):
        return kernel.pair_topk(
            pdf["_id"].to_numpy(), kernel.matrix(pdf["_emb"]),
            ref_ids, ref_mat, top_n, upper=True, b_norm=ref_norm,
        )

    # spread the row blocks across cores when the input is big enough
    # to beat the repartition shuffle (tiny scans stay single-task)
    return kernel.map_batches(fan_out(src), score, schema)


def _tile_shape(src: DataFrame, top_n: int, n_blocks: int, schema: str) -> DataFrame:
    import pandas as pd

    keyed = src.withColumn("_blk", F.pmod(F.hash("_id"), F.lit(n_blocks)))
    tiles = local_frame(
        src.sparkSession,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )

    def side(blk: str, tag: int) -> DataFrame:
        return keyed.join(F.broadcast(tiles), F.col("_blk") == F.col(blk)).select(
            "bi", "bj", F.lit(tag).alias("_side"), "_id", "_emb"
        )

    empty = pd.DataFrame(columns=["id_a", "id_b", "cosine_sim"])

    def score_tile(key, pdf):
        a, b = pdf[pdf["_side"] == 0], pdf[pdf["_side"] == 1]
        # diagonal tiles see every pair twice (keep id_a < id_b);
        # cross-block tiles see each pair once, in block order
        out = None if a.empty or b.empty else kernel.pair_topk(
            a["_id"].to_numpy(), kernel.matrix(a["_emb"]),
            b["_id"].to_numpy(), kernel.matrix(b["_emb"]),
            top_n, upper=key[0] == key[1],
        )
        return empty if out is None else out

    return (
        side("bi", 0)
        .unionByName(side("bj", 1))
        .groupBy("bi", "bj")
        .applyInPandas(score_tile, schema=schema)
    )


def cosine_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 8,
    bands: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    top_n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pair mining with NO quadratic compute — the 100 TB
    path `cosine_topk_pairs` documents as its approximate successor.

    LSH banding for cosine: each vector gets `bands` bucket keys (the
    sign pattern of a disjoint slice of `n_planes` dimensions per
    band); candidate pairs meet only inside a (band, bucket) group, so
    the shuffle is keyed on the bucket — no cross product, no
    broadcast matrix. Candidates are exactly rescored (round-6 cosine,
    same contract as the exact operators) and thresholded; two vectors
    are candidates if ANY band agrees, so recall grows with `bands`
    while cost stays |same-bucket pairs|.

    Returns (id_a, id_b, cosine_sim) with id_a < id_b — a SUBSET of
    the exact threshold pairs (pinned by test_similarity_bucketed).
    """
    # NULL and zero-norm vectors are unscorable under cosine (and the
    # division RAISES under ANSI): excluded, like everywhere else
    src = df.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        l2_norm(f"`{emb_col}`", dim).alias("_norm"),
    ).filter(F.col("_norm") != F.lit(0.0))
    # band keys as ONE parsed SQL expression (a composed Column tree
    # here is bands x n_planes py4j round-trips of plan-build time;
    # the analyzed plan is identical)
    band_keys = F.expr(
        "array("
        + ", ".join(
            "concat("
            + f"'{b}:', "
            + ", ".join(
                f"CASE WHEN element_at(_emb, {b * n_planes + i + 1}) >= 0"
                " THEN '1' ELSE '0' END"
                for i in range(n_planes)
            )
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    keyed = src.select("_id", "_emb", "_norm", F.explode(band_keys).alias("_bk"))
    a = keyed.select(
        F.col("_bk"),
        F.col("_id").alias("id_a"),
        F.col("_emb").alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    b = keyed.select(
        F.col("_bk"),
        F.col("_id").alias("id_b"),
        F.col("_emb").alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    sim = F.round(
        dot_product("_ea", "_eb", dim)
        / (F.col("_na") * F.col("_nb")),
        6,
    )
    pairs = (
        a.join(b, ["_bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(threshold))
        # a pair can agree in several bands — dedup on the pair key
        .distinct()
    )
    if top_n is not None:
        pairs = pairs.orderBy(
            F.col("cosine_sim").desc(), "id_a", "id_b"
        ).limit(top_n)
    return pairs


def sign_bucket(emb_col: str, n_planes: int = 8):
    """Bucket key: sign pattern of the first `n_planes` dimensions of
    the column NAMED `emb_col`. Built as one parsed SQL expression —
    see the band-key note above."""
    return F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN element_at(`{emb_col}`, {i + 1}) >= 0"
            " THEN '1' ELSE '0' END"
            for i in range(n_planes)
        )
        + ")"
    )


def _bucket_variants(n_planes: int, radius: int) -> list[tuple[int, ...]]:
    """All flip-masks (index tuples) within Hamming distance <= radius,
    the empty mask included."""
    from itertools import combinations

    masks: list[tuple[int, ...]] = [()]
    for r in range(1, radius + 1):
        masks.extend(combinations(range(n_planes), r))
    return masks


def signbucket_ann(
    items: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
    dim: int | None = None,
    hamming_probes: int = 2,
) -> DataFrame:
    """ANN: top-k by cosine distance within the probe's sign bucket
    and (by default) every bucket within Hamming radius 2 of it,
    excluding the probe row itself. Returns
    (query_id, rank, neighbor_id, distance).

    `hamming_probes` is multi-probe LSH (Lv et al., VLDB 2007):
    each query also searches every bucket within that Hamming radius
    of its own sign pattern — the standard recall lever for sign
    bucketing, whose single-bucket recall collapses as n_planes grows.
    Measured on the 64-dim gate corpus at 8 planes (SCALE.md):
    recall@5 = 0.019 at radius 0, 0.394 at radius 2, 0.663 at radius
    3. Radius 2 is the DEFAULT since round 8 (VERDICT r7 #4): a ~2%
    recall default silently mistakes bucket-hit for search; pass
    ``hamming_probes=0`` explicitly for the single-bucket probe.
    Radius r probes sum(C(n_planes, i), i<=r) buckets; the item side
    is computed ONCE — only the tiny broadcast probe side fans out,
    and an item can match a query in at most one bucket (items hash
    to a single bucket), so no dedup pass is needed."""
    from chroma_rs_spark.functions.vector import l2_norm_sql

    if not 0 <= hamming_probes <= n_planes:
        raise ValueError(
            f"hamming_probes must be in [0, n_planes], got {hamming_probes}"
        )

    it = items.filter(F.col(item_emb).isNotNull()).filter(
        F.expr(f"{l2_norm_sql(f'`{item_emb}`', dim)} <> 0.0D")
    ).select(
        F.col(item_id).alias("_iid"),
        F.col(item_emb).alias("_iemb"),
        sign_bucket(item_emb, n_planes).alias("_bucket"),
    )
    pr = probes.filter(F.col(probe_emb).isNotNull()).filter(
        F.expr(f"{l2_norm_sql(f'`{probe_emb}`', dim)} <> 0.0D")
    ).select(
        F.col(probe_id).alias("_qid"),
        F.col(probe_emb).alias("_qemb"),
        sign_bucket(probe_emb, n_planes).alias("_bucket"),
    )
    if hamming_probes > 0:
        # one variant expression per flip mask, exploded on the tiny
        # probe side: flip = '1'+'0' minus the original char
        def variant(mask: tuple[int, ...]):
            if not mask:
                return F.col("_bucket")
            parts, prev = [], 1
            for j in sorted(mask):
                if j + 1 > prev:
                    parts.append(
                        F.substring("_bucket", prev, j + 1 - prev)
                    )
                parts.append(
                    F.when(
                        F.substring("_bucket", j + 1, 1) == "1", F.lit("0")
                    ).otherwise(F.lit("1"))
                )
                prev = j + 2
            if prev <= n_planes:
                parts.append(
                    F.substring("_bucket", prev, n_planes - prev + 1)
                )
            return F.concat(*parts)

        masks = _bucket_variants(n_planes, hamming_probes)
        pr = pr.select(
            "_qid",
            "_qemb",
            F.explode(F.array(*[variant(m) for m in masks])).alias(
                "_bucket"
            ),
        )
    dist = F.round(cosine_distance("_iemb", "_qemb", dim=dim), 6)
    scored = (
        it.join(F.broadcast(pr), "_bucket")
        .filter(F.col("_iid") != F.col("_qid"))
        .select(
            F.col("_qid").alias(probe_id),
            F.col("_iid").alias("neighbor_id"),
            dist.alias("distance"),
        )
    )
    return kernel.merge_topk(scored, k, probe_id, "neighbor_id", "distance")


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.9,
    k: int | None = None,
    max_iter: int = 3,
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup — semantic deduplication via within-cluster embedding
    similarity (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then look for near-duplicate pairs ONLY inside
    each cluster, so the pair join is keyed on the cluster id instead
    of forming the all-pairs product the exact operators pay.

    Clustering is the DataFrame-native deterministic k-means
    (operators/centroids.py): `k` defaults to ceil(sqrt(n)) — the
    paper's scaling, k grows WITH the corpus — so expected cluster
    width is n/k ~ sqrt(n) and the within-cluster self-join forms
    ~n pairs per cluster, ~n^1.5 total, instead of the (n/k)^2-with-
    fixed-k form that degenerates to all-pairs at scale. The returned
    cluster id is the k-means label of one final nearest-centroid
    E-step against the trained centroids (so assignment and centroids
    are mutually consistent regardless of where Lloyd's early-stopped).
    Dedup rule (the deterministic "tournament" variant of the paper's
    keep-low-centroid-similarity policy): a vector is a duplicate iff
    some same-cluster partner has cosine >= threshold AND sits FARTHER
    from the shared centroid (paper §3: keeping low-centroid-similarity
    examples preserved the most diversity); exact-tie pairs keep the
    lower id. One pair join, no sequential greedy chain — every verdict
    is independent, so the operator is a pure DataFrame plan after the
    bounded k-means actions.

    Returns (id, cluster, sq_dist, is_dup). Zero/NaN/inf-norm vectors
    are unscorable for the pair test (the shared exact-pair contract,
    `cosine_topk_pairs`) and are never marked duplicates; their
    assignment row is kept.

    100 TB shape: one count() to size k, then per Lloyd's round the
    corpus never shuffles (centroids broadcast, E-step map-side;
    M-step shuffles k x dim x partitions partial sums). The only
    shuffle of vector rows is the cluster-keyed self-join, ~sqrt(n)
    wide per cluster by construction; a degenerate hot cluster is an
    AQE skew-join split, not a single-task window.
    """
    import math

    if not math.isfinite(threshold):
        # the single-reference pair predicate below maps NaN-similarity
        # to -inf before comparing; only a FINITE threshold keeps that
        # exactly equivalent to the historical ~isnan(sim) & (sim >= t)
        # form (ADVICE r13: threshold=-inf would admit NaN pairs)
        raise ValueError(
            f"semantic_dedup threshold must be finite, got {threshold}"
        )

    from chroma_rs_spark.operators.centroids import (
        assign_nearest_centroid,
        kmeans,
    )

    # same narrow-input spread as kmeans (plans/partitioning.py): the
    # final E-step and the within-cluster pair join both do
    # per-row/per-pair interpreted vector work, which a single-file
    # corpus would serialize on one core. Bit-safe for the same
    # reasons; no-op at cluster scale or on pytest-sized inputs.
    from chroma_rs_spark.plans.partitioning import spread_compute

    emb = spread_compute(emb)

    if k is None and centroids is None:
        n = emb.count()
        # exact integer ceil(sqrt(n)) — no float-boundary ambiguity
        import math

        r = math.isqrt(max(n, 1))
        k = max(2, r if r * r == n else r + 1)
    # `centroids` takes a pre-trained label_centroids-form DataFrame
    # (label, pos, centroid, ...) and skips the Lloyd's loop — the
    # same build-once-search-many contract as ivf_topk(precollected=):
    # at 100 TB the clustering trains once at index-build time and
    # every dedup pass reuses it. The final E-step below re-assigns
    # against whatever centroids are used, so assignment and centroids
    # stay mutually consistent either way.
    if centroids is not None:
        cents = centroids
    else:
        _, cents = kmeans(
            emb.select(id_col, emb_col),
            k=k,
            max_iter=max_iter,
            id_col=id_col,
            vec_col=emb_col,
            dim=dim,
        )
    assigned = assign_nearest_centroid(
        emb, cents, id_col=id_col, vec_col=emb_col, dim=dim
    )
    norm = l2_norm(f"`{emb_col}`", dim)
    scorable = (
        emb.select(
            F.col(id_col), F.col(emb_col).alias("_e"), norm.alias("_n")
        )
        .filter(_norm_scorable(F.col("_n")))
        .join(assigned, id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.col("assigned_label").alias("_c"),
            F.col("sq_dist").alias("_d"),
            "_e",
            "_n",
        )
    )
    a = scorable.select(
        F.col("_id").alias("_ida"),
        F.col("_c").alias("_ca"),
        F.col("_d").alias("_da"),
        F.col("_e").alias("_ea"),
        F.col("_n").alias("_na"),
    )
    b = scorable.select(
        F.col("_id").alias("_idb"),
        F.col("_c").alias("_cb"),
        F.col("_d").alias("_db"),
        F.col("_e").alias("_eb"),
        F.col("_n").alias("_nb"),
    )
    sim = F.round(
        dot_product("_ea", "_eb", dim) / (F.col("_na") * F.col("_nb")), 6
    )
    # partner b "wins" (a is the duplicate) iff b is farther from the
    # centroid, ties to the lower id — rounded sq_dist is the pinned
    # assignment output, so the comparison is engine-exact
    dups = (
        a.join(
            b,
            (F.col("_ca") == F.col("_cb"))
            & (F.col("_ida") != F.col("_idb"))
            & (
                (F.col("_db") > F.col("_da"))
                | ((F.col("_db") == F.col("_da")) & (F.col("_idb") < F.col("_ida")))
            ),
            "inner",
        )
        # single-reference NaN guard (round 13): `~isnan(sim) & (sim >=
        # t)` references the pairwise dot fold TWICE, and higher-order
        # functions are CodegenFallback — no subexpression elimination
        # across the pushed-down join condition's conjuncts, so every
        # same-cluster pair paid the fold twice (verified: 2x zip_with
        # in the optimized plan). nanvl(sim, -inf) >= t is the same
        # predicate (NaN -> -inf fails any finite threshold; +/-inf and
        # finite sims compare unchanged) with ONE reference, so the
        # fold runs once per pair. Plan now carries a single zip_with.
        .filter(
            F.nanvl(sim, F.lit(float("-inf"))) >= F.lit(float(threshold))
        )
        .select(F.col("_ida").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dups, id_col, "left").select(
        F.col(id_col),
        # bigint cluster id: k-means labels are posexplode int32, SQL
        # engines' row_number emits int64 — pin the wider type so oracle
        # hashes stay type-exact (same convention as centroids.py pos)
        F.col("assigned_label").cast("long").alias("cluster"),
        "sq_dist",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )


def ann_recall(
    items: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
    dim: int | None = None,
    hamming_probes: int = 2,
) -> DataFrame:
    """Measured recall@k of the sign-bucket ANN against exact KNN —
    the evaluation every approximate index owes its users (an ANN
    whose recall is assumed rather than measured is a guess, not an
    index). Per probe: the exact cosine top-k over the scorable
    universe (non-NULL, non-zero-norm, self excluded) and the
    sign-bucket top-k are intersected.

    Returns (query_id, n_exact, n_approx, n_hits, recall) with
    recall = round(n_hits / k, 6); a probe with no scorable exact
    neighbors (NULL/zero-norm probe vector) keeps its row with zeros
    and NULL recall (unscorable convention). n_approx < k happens
    legitimately when the probe's bucket is thin — recall = n_hits/k
    charges the miss to the index, as it should.

    Scale shape: the probes are collected (|probes| is small by
    construction of an evaluation); the exact side is one `knn_exact`
    scan of the items, which keeps k candidates per probe in each Arrow
    batch and drops the zero-norm items (NaN cosine) and self pairs;
    the approx side is the bucket-equijoin of `signbucket_ann`; the
    intersection is a (query, neighbor) equi-join on two k-bounded
    sets. Nothing quadratic in |items| beyond the exact baseline the
    evaluation exists to compare against.
    """
    from chroma_rs_spark.plans.partitioning import spread_compute

    # the exact baseline scores |probes| x dim per item row — spread a
    # narrow (single-file) item side so the scoring parallelizes; the
    # approximate side reuses the same materialization. No-op at
    # cluster scale or on pytest-sized inputs.
    items = spread_compute(items)
    exact = _exact_neighbors(
        items, probes, k, "cosine", item_id, item_emb, probe_id, probe_emb, True
    )
    approx = signbucket_ann(
        items,
        probes,
        k=k,
        n_planes=n_planes,
        item_id=item_id,
        item_emb=item_emb,
        probe_id=probe_id,
        probe_emb=probe_emb,
        dim=dim,
        hamming_probes=hamming_probes,
    ).select(F.col(probe_id), F.col("neighbor_id").alias("_nid"))
    return _recall_report(probes, exact, approx, k, probe_id)


def _recall_report(
    probes: DataFrame,
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    probe_id: str,
) -> DataFrame:
    """Shared recall assembly: `exact` and `approx` are (probe_id,
    _nid) neighbor sets — DISTINCT per (probe, neighbor) by
    construction (both are top-k lists); emits one row per distinct
    probe id with the ann_recall output contract.

    Tagged-union form (round 14, guide §2.4): the old
    three-aggregations-joined shape consumed EACH input subtree twice
    (its count + the hits join) with zero exchange reuse — for the
    recall rows that meant the corpus-sized exact-KNN scan (then a
    cross join) and the approximate index chain both executed twice
    per action
    (plan-audited: 8 BroadcastNestedLoopJoin / 16 WindowGroupLimit in
    pq_recall's before-plan). Tagging each side and grouping once per
    (probe, neighbor) then per probe reads each subtree ONCE; counts
    are identical on distinct inputs: n_exact = #tags with _e, n_approx
    = #tags with _a, n_hits = #pairs carrying both."""
    tagged = exact.select(
        F.col(probe_id),
        F.col("_nid"),
        F.lit(1).alias("_e"),
        F.lit(0).alias("_a"),
    ).unionByName(
        approx.select(
            F.col(probe_id),
            F.col("_nid"),
            F.lit(0).alias("_e"),
            F.lit(1).alias("_a"),
        )
    )
    counts = (
        tagged.groupBy(probe_id, "_nid")
        .agg(F.max("_e").alias("_e"), F.max("_a").alias("_a"))
        .groupBy(probe_id)
        .agg(
            F.sum("_e").cast("long").alias("n_exact"),
            F.sum("_a").cast("long").alias("n_approx"),
            F.sum(F.col("_e") * F.col("_a")).cast("long").alias("n_hits"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        probes.select(F.col(probe_id)).distinct()
        .join(counts, probe_id, "left")
        .select(
            probe_id,
            F.coalesce("n_exact", zero).alias("n_exact"),
            F.coalesce("n_approx", zero).alias("n_approx"),
            F.coalesce("n_hits", zero).alias("n_hits"),
            F.when(
                F.coalesce("n_exact", zero) > 0,
                F.round(
                    F.coalesce("n_hits", zero) / F.lit(float(k)), 6
                ) + F.lit(0.0),
            ).alias("recall"),
        )
    )


def _exact_neighbors(
    items: DataFrame,
    probes: DataFrame,
    k: int,
    metric: str,
    item_id: str,
    item_emb: str,
    probe_id: str,
    probe_emb: str,
    exclude_self: bool,
) -> DataFrame:
    """(probe_id, _nid): the exact top-k of each probe of the small
    `probes` frame, collected once for `knn_exact` (NULL probes drop;
    they keep their report row through `_recall_report`)."""
    from chroma_rs_spark.operators.knn import knn_exact

    queries = [tuple(r) for r in probes.select(probe_id, probe_emb).collect()]
    return knn_exact(
        items,
        queries,
        k,
        metric=metric,
        item_id=item_id,
        item_emb=item_emb,
        query_id=probe_id,
        exclude_self=exclude_self,
    ).select(F.col(probe_id), F.col(item_id).alias("_nid"))


def recall_vs_exact(
    items: DataFrame,
    probes: DataFrame,
    approx: DataFrame,
    k: int,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
    neighbor_col: str = "neighbor_id",
    exclude_self: bool = False,
    metric: str = "cosine",
) -> DataFrame:
    """Recall@k of ANY approximate neighbor result against exact
    KNN over the same items — `approx` is a DataFrame carrying
    (probe_id, neighbor_col) rows from whichever index is being
    evaluated (`ivf_topk`, `signbucket_ann`, PQ-ADC, a future
    HNSW...). Output contract and conventions are `ann_recall`'s; pass
    the same `exclude_self` the evaluated index uses so both sides
    define the neighbor universe identically, and the `metric` the
    index approximates (cosine for IVF/sign-bucket, l2 for PQ-ADC) so
    the exact truth ranks by the distance the index is trying to
    reproduce. The exact side is one `knn_exact` scan of the items."""
    exact = _exact_neighbors(
        items, probes, k, metric, item_id, item_emb, probe_id, probe_emb,
        exclude_self,
    )
    ap = approx.select(F.col(probe_id), F.col(neighbor_col).alias("_nid"))
    return _recall_report(probes, exact, ap, k, probe_id)


# Upper bound on mmr_topk's candidate pool: the greedy stage collects
# |probes| * pool candidates with their vectors and scores pool^2
# pairwise distances per probe on the driver, so 512 keeps a 100-probe
# batch at ~50k collected rows and ~26M driver-side distances — the
# same "bounded by construction" budget as the centroid collects.
MMR_MAX_POOL = 512


def mmr_topk(
    items: DataFrame,
    probes: Sequence[tuple],
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    item_norm: str | None = None,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998) — the retrieval feature plain KNN lacks:
    near-duplicate neighbors crowd the result list, MMR greedily picks
    the candidate maximizing
        lam * (1 - d(q, i)) - (1 - lam) * max_{j in S} (1 - d(i, j))
    so each pick trades relevance against similarity to the already-
    selected set S (lam = 1 degenerates to plain KNN).

    `probes` is a driver-side list of (qid, vector), as for
    `knn_exact`; pass `item_norm` for a stored norm column (the
    collection's `embedding_norm`).

    Physical shape: the exact cosine top-`pool` per probe is one
    `knn_exact` scan of the items carrying each candidate's vector —
    the only corpus-sized work — collected once (|probes| * pool rows
    by contract, the centroid-collect class, never corpus data). The
    pool x pool round-6 cosine distances and the greedy selection then
    run on the driver. At 100 TB the pool stage is the ANN index's
    cost; MMR's own cost is independent of corpus size.

    Determinism contract (what makes the row oracle-checkable): the
    pool is top-`pool` by (round-6 distance, id) and excludes the
    zero-norm items (their cosine is NaN); every pairwise distance is
    the engine-wide round-6 + -0.0 cosine (`kernel.exact_distances`
    rounded by `kernel.rounded_half_up`, Spark ROUND's bits); the
    greedy arithmetic runs on python float64 with the exact literal
    `lam` and `1 - lam` factors an unrolled SQL replay uses, ties
    break to the lower id.

    Returns (probe_id, rank, item_id, distance, mmr_score) —
    distance is the exact round-6 cosine to the probe, mmr_score the
    raw (unrounded) greedy objective at selection time.
    """
    import numpy as np

    from chroma_rs_spark.operators.knn import knn_exact

    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_topk: lam must be in [0, 1], got {lam}")
    # Hard cap: the greedy stage scores |probes| * pool^2 pairs on the
    # driver by design (bounded-collect class). That bound is only a
    # bound if pool stays small — pool=10k would be 1e8 pairs per
    # probe. Larger pools need a distributed greedy variant, not a
    # silently bigger driver stage.
    if not (0 < int(pool) <= MMR_MAX_POOL):
        raise ValueError(
            f"mmr_topk: pool must be in [1, {MMR_MAX_POOL}] (the greedy"
            f" stage scores |probes| * pool^2 pairs), got {pool}"
        )
    cand = knn_exact(
        items,
        probes,
        k=int(pool),
        metric="cosine",
        item_id=item_id,
        item_emb=item_emb,
        query_id=probe_id,
        item_norm=item_norm,
        carry=[item_emb],
    )
    by_q: dict = {}
    for r in cand.collect():
        by_q.setdefault(r[probe_id], []).append(r)

    lam = float(lam)
    one_minus = 1.0 - lam  # the EXACT float the oracle must embed
    out_rows = []
    for q in sorted(by_q):
        ids = [r[item_id] for r in by_q[q]]
        dq = [float(r["distance"]) for r in by_q[q]]
        vecs = np.asarray([r[item_emb] for r in by_q[q]], dtype=np.float64)
        pair = kernel.rounded_half_up(
            kernel.exact_distances("cosine", vecs, vecs)
        ).tolist()
        selected: list = []
        remaining = sorted(range(len(ids)), key=lambda i: ids[i])
        for rank in range(1, min(int(k), len(ids)) + 1):
            best, best_score = None, None
            for i in remaining:
                # TRUE max over (1 - dab) for j in S — similarities can
                # be negative (cosine distance runs to 2), so this must
                # not clip at 0; the empty-S convention is 0.0 (first
                # pick = pure relevance), mirrored by the oracle's m1
                if selected:
                    mx = max(1.0 - pair[i][j] for j in selected)
                else:
                    mx = 0.0
                score = lam * (1.0 - dq[i]) - one_minus * mx
                # `remaining` runs in id order: the first best wins ties
                if best_score is None or score > best_score:
                    best, best_score = i, score
            selected.append(best)
            remaining.remove(best)
            out_rows.append((q, rank, ids[best], dq[best], best_score))
    types = dict(cand.dtypes)
    return local_frame(
        items.sparkSession,
        out_rows,
        f"`{probe_id}` {types[probe_id]}, rank long, `{item_id}` {types[item_id]},"
        " distance double, mmr_score double",
    )
