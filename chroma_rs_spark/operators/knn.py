"""Batch KNN — the flagship query (SURVEY.md §2.2 A8-A11).

Semantics: for each query vector, the top-k nearest items in a
collection under the collection's distance metric, optionally after a
metadata filter. This is the `query(query_embeddings, n_results, ...)`
endpoint of the API the reference client targets
(api/v1/collections/{id}/query — see SURVEY.md §0/§2.2; the reference
itself stops at collection management, reference src/collection.rs has
no item methods).

Two physical strategies, same logical semantics:

* `knn_exact` — pure DataFrame: broadcast the (small) query set, cross
  join, HOF distance, window top-k. Fully JVM-side and bit-matchable
  against a SQL oracle. The window's partitionBy(query_id) shuffles
  the full |items| x |queries| cross product, which is fine up to
  mid-size collections but becomes the bottleneck at 100 TB.

* `knn_exact_local_topk` — the scale path: per-partition top-k in a
  vectorized Arrow batch, scored by the shared numpy kernel
  (operators/kernel.py: `exact_distances`, knn_exact's arithmetic
  folded in the same position order, rounded by `rounded_half_up`,
  Spark ROUND's HALF_UP rule, so distances, ranks and id tie-breaks
  are bit-identical), so only |partitions| x |queries| x k
  candidate rows ever shuffle; the final window runs on that tiny
  set. At 1000 executors this turns an all-to-all shuffle of the
  cross product into a map-only plan. The collection's exact
  `query()` ranks with it, and the pq/ivfpq pool rescore
  (pq.pq_pooled_topk) runs the same arithmetic.

`knn_exact` stays the SQL-HOF form only where an oracle row replays
its SQL: the declared `knn_cosine|l2|ip` rows and the evaluation
operators of operators/similarity.py.

Determinism: ranks order by (distance rounded to 6 dp, item id) so
top-k sets and orderings are reproducible and engine-independent
(SURVEY.md §7 hard-part (e)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chroma_rs_spark.functions.vector import (
    dot_product,
    l2_distance,
    l2_norm,
)
from chroma_rs_spark.operators import kernel
from chroma_rs_spark.operators.kernel import DIST_DECIMALS
from chroma_rs_spark.plans import fan_out

METRICS = ("cosine", "l2", "ip")


def _distance_col(
    metric: str, item_emb, query_emb, item_norm=None, query_norm=None, dim=None
):
    if metric == "cosine":
        # zero-norm guard: cosine is undefined for the zero vector, and
        # under ANSI SQL (Spark 4 default) the division RAISES instead
        # of yielding NaN. The CASE keeps the zero branch unevaluated
        # and returns NULL; callers filter NULL distances, so zero-norm
        # items/probes are excluded — the same rule as NULL embeddings.
        # For every nonzero norm the ELSE branch is the identical
        # expression tree as before (bit-exact distances).
        from chroma_rs_spark.functions.vector import dot_product_sql, l2_norm_sql

        an = item_norm if item_norm is not None else l2_norm_sql(item_emb, dim)
        bn = query_norm if query_norm is not None else l2_norm_sql(query_emb, dim)
        return F.expr(
            f"CASE WHEN {an} * {bn} = 0.0D THEN NULL"
            f" ELSE 1.0D - {dot_product_sql(item_emb, query_emb, dim)}"
            f" / ({an} * {bn}) END"
        )
    if metric == "l2":
        return l2_distance(item_emb, query_emb, dim=dim)
    if metric == "ip":
        return F.lit(1.0) - dot_product(item_emb, query_emb, dim=dim)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def knn_exact(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    item_id: str = "doc_id",
    item_emb: str = "embedding",
    query_id: str = "query_id",
    query_emb: str = "query_embedding",
    item_norm: str | None = None,
    dim: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k per query via broadcast cross join + window.

    `exclude_self=True` drops pairs whose item id equals the query id
    (for self-retrieval evaluations where probes are drawn from the
    item table, e.g. `similarity.ann_recall`); default off preserves
    the vector-DB query semantics where a stored twin of the probe is
    a legitimate hit.

    Returns (query_id, rank, item_id, distance) with distance rounded
    to DIST_DECIMALS. For cosine, pass `item_norm` (a stored column
    from `with_norm` — the add-time index build) to skip recomputing
    each item's norm once per query vector; the stored value is the
    same double `l2_norm` yields, so results are bit-identical. Query
    norms are always computed once per query inside the broadcast side
    (|Q| rows), never per (item, query) pair. Pass `dim` (the
    collection's registered dimension) to unroll the distance into the
    whole-stage-codegen loop instead of the interpreted HOF fold —
    same bits; pays off for large collections, costs more per action
    for tiny ones (see functions/vector.py module docstring for the
    measured tradeoff).
    """
    q_cols = [
        F.col(query_id).alias("__qid"), F.col(query_emb).alias("__qemb")
    ]
    if metric == "cosine":
        # one norm per query vector, evaluated on the tiny broadcast
        # side — the pair-level expression below then reuses the stored
        # double (same value l2_norm would yield per pair, so results
        # are bit-identical)
        q_cols.append(l2_norm(f"`{query_emb}`", dim).alias("__qnorm"))
    q = queries.select(*q_cols)
    item_cols = [F.col(item_id).alias("__iid"), F.col(item_emb).alias("__iemb")]
    if item_norm is not None:
        item_cols.append(F.col(item_norm).alias("__inorm"))
    # Items without an embedding (doc-only add, upsert without vectors)
    # can't be scored; without this filter their NULL distance would
    # sort NULLS FIRST into rank 1..n and push out real neighbors.
    # Distance evaluation is CPU-bound: fan a big-but-narrow scan out to
    # all cores first (no-op for tiny inputs and on wide cluster scans).
    it = fan_out(
        items.filter(F.col(item_emb).isNotNull()).select(*item_cols)
    )
    # Query sets are tiny relative to the collection: broadcast so the
    # cross product is computed map-side with zero pre-join shuffle.
    joined = it.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("__iid") != F.col("__qid"))
    # `+ 0.0` canonicalizes IEEE -0.0 to +0.0 after rounding (self-match
    # rows produce tiny negatives that round to -0.0 on some engines but
    # +0.0 on others; -0.0 + 0.0 == +0.0 bit-wise everywhere). The DuckDB
    # oracles apply the same `ROUND(...) + 0.0` so hashes are bit-stable.
    dist = F.round(
        _distance_col(
            metric,
            "__iemb",
            "__qemb",
            "__inorm" if item_norm is not None else None,
            query_norm="__qnorm" if metric == "cosine" else None,
            dim=dim,
        ),
        DIST_DECIMALS,
    ) + F.lit(0.0)
    scored = joined.select(
        F.col("__qid").alias(query_id),
        F.col("__iid").alias(item_id),
        dist.alias("distance"),
    )
    # NULL distance = unscorable pair (zero-norm under cosine, NULL
    # probe vector); NaN = a NaN element inside a vector. Both are
    # excluded — the same rule the oracles (NOT isnan) and the
    # local-topk path (np.isfinite) apply. The exclusion runs ABOVE
    # the window, not as a filter on `scored`: a filter there is
    # pushed below the projection into the cross-join condition, and
    # the plan then evaluates the full distance HOF 3x per pair (twice
    # in the condition's isnotnull/isnan conjuncts, once in the
    # projection — the guide §4.4 duplication class, verified in
    # plans/r13/knn_cosine_before.txt). Ordering NULLS LAST keeps the
    # output identical: Spark sorts valid doubles < NaN < NULL under
    # asc_nulls_last, so ranks 1..k are exactly the k best valid pairs
    # and the post-window filter drops the rest. No-op for well-formed
    # corpora.
    w = Window.partitionBy(query_id).orderBy(
        F.col("distance").asc_nulls_last(), F.col(item_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") <= k)
            & F.col("distance").isNotNull()
            & ~F.isnan("distance")
        )
        # bigint rank on every public ranking (scale-correct, and one
        # consistent type across the exact/local-topk/ivf/pq paths)
        .select(query_id, F.col("rank").cast("long").alias("rank"),
                item_id, "distance")
    )


def knn_exact_local_topk(
    items: DataFrame,
    queries: Sequence[tuple],
    k: int,
    metric: str = "cosine",
    item_id: str = "doc_id",
    item_emb: str = "embedding",
    query_id: str = "query_id",
    id_type: str = "long",
    item_norm: str | None = None,
) -> DataFrame:
    """Scale-path exact KNN: per-partition vectorized top-k, then a
    tiny global top-k. `id_type` is the Spark type of the id column
    (`string` for collection ids — mirrors ivf_topk's item_id_type).

    `queries` is a driver-side list of (qid, vector) — the query set is
    small by contract (A8 batches a handful of probe vectors). Each
    Arrow batch scores all pairs with `kernel.exact_distances`, rounds
    them with `kernel.rounded_half_up` and keeps only k candidates per
    query (operators/kernel.py), so the
    shuffle after mapInPandas carries at most |batches| * |queries| * k
    rows. For cosine, pass `item_norm` (the stored add-time norm, as
    for knn_exact). Results equal knn_exact's bit for bit: NULL
    embeddings and NULL/NaN distances (zero-norm under cosine, NaN
    components) are excluded, ±inf distances rank like any other."""
    import numpy as np

    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")

    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)  # (nq, dim)

    def score(pdf):
        if not qids:
            return None
        norm = None if item_norm is None else pdf[item_norm].to_numpy(np.float64)
        d = kernel.exact_distances(metric, kernel.matrix(pdf[item_emb]), qmat, norm)
        return kernel.topk_per_query(
            qids, pdf[item_id].to_numpy(), kernel.rounded_half_up(d), k,
            (query_id, item_id, "distance"), keep_inf=True,
        )

    cols = [item_id, item_emb] + ([item_norm] if item_norm is not None else [])
    # null embeddings are unscorable — see knn_exact; fan_out as there
    src = fan_out(items.filter(F.col(item_emb).isNotNull()).select(*cols))
    candidates = kernel.map_batches(
        src, score, f"{query_id} long, {item_id} {id_type}, distance double"
    )
    return kernel.merge_topk(candidates, k, query_id, item_id, "distance")


def with_norm(
    items: DataFrame,
    emb: str = "embedding",
    out: str = "embedding_norm",
    dim: int | None = None,
) -> DataFrame:
    """Materialize the L2 norm column — the add-time 'index build'."""
    return items.withColumn(out, l2_norm(f"`{emb}`", dim))
