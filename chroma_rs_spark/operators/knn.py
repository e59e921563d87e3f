"""Batch KNN — the flagship query (SURVEY.md §2.2 A8-A11).

Semantics: for each query vector, the top-k nearest items in a
collection under the collection's distance metric, optionally after a
metadata filter. This is the `query(query_embeddings, n_results, ...)`
endpoint of the API the reference client targets
(api/v1/collections/{id}/query — see SURVEY.md §0/§2.2; the reference
itself stops at collection management, reference src/collection.rs has
no item methods).

One physical form: `knn_exact` scores each Arrow batch of items
against the driver-side probe list in the shared numpy kernel
(operators/kernel.py: `exact_distances`, every sum folded in position
order like a SQL `aggregate`, rounded by `rounded_half_up`, Spark
ROUND's HALF_UP rule) and keeps k candidates per query, so only
|batches| x |queries| x k rows ever shuffle into the final window —
the per-partition top-k-then-merge shape of REPOSE (PAPERS.md). The
collection's exact `query()`, its `query_diverse` pool, the suite's
exact KNN rows, the recall evaluations and the hybrid dense leg all
rank with it; the pq/ivfpq pool rescore (pq.pq_pooled_topk) runs the
same arithmetic. Its DuckDB oracles replay that arithmetic in SQL
(`list_dot_product`, an in-order squared-difference `list_sum`).

Determinism: ranks order by (distance rounded to 6 dp, item id) so
top-k sets and orderings are reproducible and engine-independent
(SURVEY.md §7 hard-part (e)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.operators import kernel
from chroma_rs_spark.plans import fan_out

METRICS = ("cosine", "l2", "ip")


def knn_exact(
    items: DataFrame,
    queries: Sequence[tuple],
    k: int,
    metric: str = "cosine",
    item_id: str = "doc_id",
    item_emb: str = "embedding",
    query_id: str = "query_id",
    item_norm: str | None = None,
    exclude_self: bool = False,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Exact top-k per query: (query_id, rank bigint, item_id, *carry,
    distance), distance rounded to DIST_DECIMALS with -0.0 folded to
    +0.0.

    `queries` is a driver-side list of (qid, vector) — the query set is
    small by contract (A8 batches a handful of probe vectors). The qids
    are ints (a bigint query_id) or strings; a probe whose vector is
    None is dropped, and every other probe must have the same length.
    Items whose embedding is NULL or of another length are unscorable
    and skipped. Each Arrow batch scores all
    pairs with `kernel.exact_distances`, rounds them with
    `kernel.rounded_half_up` and keeps k candidates per query, which
    one window then merges. NaN distances (zero-norm under cosine, NaN
    components) are excluded; ±inf distances rank like any other.

    For cosine, pass `item_norm` (a stored norm column, the add-time
    "index build") to skip recomputing each item's norm; it must be
    the `l2_norm` fold's double. `exclude_self=True` drops pairs whose
    item id equals the query id (self-retrieval evaluations such as
    `similarity.ann_recall`); by default a stored twin of the probe is
    a legitimate hit. `carry` names item columns returned on each
    ranked row (`similarity.mmr_topk` takes its pool's vectors so)."""
    import numpy as np

    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    queries = [(q, v) for q, v in queries if v is not None]
    dims = {len(v) for _q, v in queries}
    if len(dims) > 1:
        raise ValueError(f"knn_exact: probes of mixed dims {sorted(dims)}")
    qids = [q for q, _v in queries]
    qarr = np.asarray(qids)
    qmat = np.asarray([v for _q, v in queries], dtype=np.float64)  # (nq, dim)
    carry = list(carry)

    def score(pdf):
        if not qids:
            return None
        ids = pdf[item_id].to_numpy()
        norm = None if item_norm is None else pdf[item_norm].to_numpy(np.float64)
        d = kernel.rounded_half_up(
            kernel.exact_distances(metric, kernel.matrix(pdf[item_emb]), qmat, norm)
        )
        mask = ids[:, None] != qarr[None, :] if exclude_self else None
        return kernel.topk_per_query(
            qids, ids, d, k, (query_id, item_id, "distance"), mask, keep_inf=True,
            carry={c: pdf[c].to_numpy() for c in carry},
        )

    types = dict(items.dtypes)
    cols = [item_id, item_emb, *carry] + ([item_norm] if item_norm else [])
    scorable = F.col(item_emb).isNotNull()
    if dims:
        scorable &= F.size(item_emb) == F.lit(dims.pop())
    # Distance evaluation is CPU-bound: fan a big-but-narrow scan out to
    # all cores first (no-op for tiny inputs and on wide cluster scans).
    src = fan_out(items.filter(scorable).select(*dict.fromkeys(cols)))
    qtype = "string" if qids and all(isinstance(q, str) for q in qids) else "long"
    schema = ", ".join(
        [f"`{query_id}` {qtype}", f"`{item_id}` {types[item_id]}"]
        + [f"`{c}` {types[c]}" for c in carry]
        + ["distance double"]
    )
    candidates = kernel.map_batches(src, score, schema)
    return kernel.merge_topk(candidates, k, query_id, item_id, "distance")
