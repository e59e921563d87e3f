"""IVF-style ANN (SURVEY.md §2.3 [EXT] similarity search — the
"IVF variant" scale path alongside the LSH sign-bucket one).

Classic inverted-file search: partition the collection into cells
around centroids, then search only the `n_probe` cells nearest each
query. Recall < 1 by design; the win is that a query touches
|collection| * n_probe / n_centroids vectors.

Determinism contract (what makes this oracle-checkable): centroids are
the `n_centroids` lowest-id vectors — a placeholder for k-means that
any engine can reproduce exactly. At 100 TB you'd swap in k-means||
centroids computed once at index-build time and persist them next to
the collection (the assignment/probe/search plan below is unchanged);
with sampled centroids the cells are unbalanced but the mechanics are
identical.

Scale shape: assignment is map-side (centroids broadcast as literals
into a `least(struct(dist, cid))` expression — no shuffle, no Python);
the search is an equi-join on cell id, so the shuffle carries only
probed cells. Cell skew is the known IVF failure mode — AQE skew-join
splits hot cells at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.functions.vector import (
    dot_product_sql,
    float_sql,
    l2_norm,
    vector_lit_sql,
)
from chroma_rs_spark.operators import kernel
from chroma_rs_spark.operators.kernel import DIST_DECIMALS
from chroma_rs_spark.plans import fan_out


def _seq_norm(vec: list[float]) -> float:
    """L2 norm with strict left-to-right accumulation — the exact
    double `l2_norm` (aggregate HOF) produces, so a driver-computed
    centroid norm is interchangeable with the JVM-computed one."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def assign_cells(
    items: DataFrame,
    centroids: list[tuple[int, list[float]]],
    item_emb: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Append `cell` = id of the nearest centroid (cosine, ties to the
    lower centroid id). Pure map-side column expression.

    Cost discipline: HOF lambdas evaluate interpreted (outside
    whole-stage codegen), so the expression computes the item norm
    ONCE per row (not once per centroid) and takes each centroid's
    norm as a driver-computed literal — one dot product per centroid
    per row is the irreducible work. Same doubles as the naive form
    (norms accumulate in the same order), ~3x less interpreted work.
    For wide vectors or large centroid counts, the Arrow-batch path
    (`ivf_topk`, scored by operators/kernel.py) is the next gear.
    """
    # zero-norm vectors cannot be assigned a cosine cell (ANSI SQL
    # would raise on the division): dropped, the unscorable-vector rule
    with_norm = items.withColumn(
        "_inorm", l2_norm(f"`{item_emb}`", dim)
    ).filter(F.col("_inorm") != F.lit(0.0))
    # the whole least(struct(...), ...) tree is assembled as ONE parsed
    # expression — one py4j call instead of ~6 per centroid (the plans
    # are identical; functions/vector.py module comment has the numbers)
    cands = []
    for cid, vec in centroids:
        dist = (
            f"ROUND(1.0D - {dot_product_sql(f'`{item_emb}`', vector_lit_sql(vec), dim)}"
            f" / (_inorm * {float_sql(_seq_norm(vec))}), {DIST_DECIMALS})"
        )
        cands.append(f"struct({dist} AS d, {int(cid)} AS c)")
    return with_norm.withColumn("cell", F.expr(f"least({', '.join(cands)}).c"))


def collect_small_vectors(
    items: DataFrame,
    n_centroids: int,
    n_queries: int,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], list[tuple[int, list[float]]]]:
    """Driver-side (centroids, queries): the lowest-id vectors. Tiny by
    contract (≤ max(n_centroids, n_queries) rows). Exposed so callers
    can cache the collect across repeated index builds — the centroid
    set IS the persisted index artifact at 100 TB."""
    small = (
        items.filter(F.col(item_id) < max(n_centroids, n_queries))
        # NULL embeddings are unscorable probes/centroids — the same
        # exclusion every oracle applies on its probe CTE
        .filter(F.col(item_emb).isNotNull())
        .select(F.col(item_id).alias("id"), F.col(item_emb).alias("emb"))
        .collect()
    )
    by_id = {r["id"]: [float(x) for x in r["emb"]] for r in small}
    centroids = [(i, by_id[i]) for i in sorted(by_id) if i < n_centroids]
    queries = [(i, by_id[i]) for i in sorted(by_id) if i < n_queries]
    return centroids, queries


def ivf_topk(
    items: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_queries: int = 5,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    precollected: tuple | None = None,
    item_id_type: str = "long",
) -> DataFrame:
    """Approximate top-k: queries = the `n_queries` lowest-id vectors,
    centroids = the `n_centroids` lowest-id vectors; each query probes
    its `n_probe` nearest cells. Returns
    (query_id, rank, neighbor_id, distance). `item_id_type` is the
    Spark type of the id column (`long` for the driver tables,
    `string` for collection ids — string ties break lexicographically,
    the collection ordering contract).

    Physical shape: one vectorized Arrow pass does BOTH the cell
    assignment and the probed-cell scoring per partition (numpy matmul
    against the broadcast centroid/query matrices), keeping only the
    local top-k per query — the shuffle after mapInPandas carries at
    most |batches| x |queries| x k rows, exactly like
    `knn_exact`. Assignment, driver-side probe selection
    and scoring all run the shared numpy kernel (operators/kernel.py):
    round to DIST_DECIMALS, -0.0 folded to +0.0, ties to the lower
    centroid/neighbor id, so results stay oracle-checkable
    bit-for-bit.
    """
    import numpy as np

    centroids, queries = (
        precollected
        if precollected is not None
        else collect_small_vectors(items, n_centroids, n_queries, item_id, item_emb)
    )

    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    cnorm = kernel.norms(cmat)
    qids = [q[0] for q in queries]
    qmat = np.array([v for _, v in queries], dtype=np.float64)
    qnorm = kernel.norms(qmat)
    # driver-side probe selection (queries and centroids are tiny): the
    # n_probe nearest cells per query by (rounded distance, cell id)
    d_cq = kernel.rounded_half_up(
        kernel.distances("cosine", cmat, qmat, cnorm, qnorm)
    )
    probe_cells = dict(zip(qids, kernel.probe_cells(cids, d_cq, n_probe)))

    def score(pdf):
        emb = kernel.matrix(pdf[item_emb])
        inorm = kernel.norms(emb)
        # assignment: argmin over (rounded distance, centroid id); cmat
        # rows are ordered by ascending cid, so argmin's first-occurrence
        # tie rule IS the lower-id tie-break. Zero-norm rows score NaN
        # everywhere and are dropped by the kernel's finite mask.
        d_cell = kernel.rounded_half_up(
            kernel.distances("cosine", emb, cmat, inorm, cnorm)
        )
        cell = cids[np.argmin(d_cell, axis=1)]
        d_q = kernel.rounded_half_up(
            kernel.distances("cosine", emb, qmat, inorm, qnorm)
        )
        probed = np.stack([np.isin(cell, probe_cells[q]) for q in qids], axis=1)
        return kernel.topk_per_query(
            qids, pdf[item_id].to_numpy(), d_q, k,
            ("query_id", "neighbor_id", "distance"), mask=probed,
        )

    src = fan_out(
        items.filter(F.col(item_emb).isNotNull()).select(item_id, item_emb)
    )
    candidates = kernel.map_batches(
        src, score, f"query_id long, neighbor_id {item_id_type}, distance double"
    )
    return kernel.merge_topk(candidates, k, "query_id", "neighbor_id", "distance")


def train_centroids_kmeans(
    items: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 5,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    strict: bool = True,
    dim: int | None = None,
) -> list[tuple[int, list[float]]]:
    """k-means-trained IVF centroids — the real index-build step the
    lowest-id placeholder stands in for (see module docstring).

    Runs the DataFrame-native Lloyd's loop (operators/centroids.py)
    and collects the resulting k x dim centroid matrix — the same tiny
    driver artifact `collect_small_vectors` produces, so the
    assignment/probe/search plan is unchanged: pass the result as
    `ivf_topk(..., precollected=(trained, queries))`. At 100 TB this
    runs once at index-build time and the matrix persists next to the
    collection. It trains on every row of `items`, with the
    SQL-replayable loop the oracle rows (knn_ivf_trained) replay.
    """
    from chroma_rs_spark.operators.centroids import kmeans

    _, cents = kmeans(
        items.select(item_id, item_emb),
        k=n_centroids,
        max_iter=max_iter,
        id_col=item_id,
        vec_col=item_emb,
        dim=dim,
    )
    by_label: dict[int, dict[int, float]] = {}
    for r in cents.collect():
        by_label.setdefault(int(r["label"]), {})[int(r["pos"])] = float(
            r["centroid"]
        )
    if strict and len(by_label) < n_centroids:
        # a cluster emptied during Lloyd's iterations (degenerate /
        # heavily duplicated data); fail loudly rather than hand back
        # an index with fewer cells than the caller asked for.
        # strict=False instead returns the surviving clusters — the
        # semantics a SQL replay of the same iterations has naturally
        # (suite/vector.py's oracle groups whatever labels remain), so
        # the oracle-checked query cannot be killed by a degenerate
        # regenerated corpus while the API build stays loud.
        raise ValueError(
            f"train_centroids_kmeans: only {len(by_label)} of "
            f"{n_centroids} clusters survived training; lower "
            "n_centroids or deduplicate the input"
        )
    return [
        (lab, [d[p] for p in sorted(d)]) for lab, d in sorted(by_label.items())
    ]
