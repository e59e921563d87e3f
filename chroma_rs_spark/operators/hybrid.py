"""Hybrid retrieval: reciprocal-rank fusion of lexical (BM25) and
vector (cosine) rankings (SURVEY.md §2.3 [EXT] similarity search — the
fusion pattern modern vector stores expose next to pure ANN).

RRF (public formulation, Cormack et al.): fused(d) = Σ_systems
1 / (k0 + rank_s(d)). Rank-based fusion needs no score calibration
between BM25's unbounded scores and cosine's [0, 2] distances, and the
arithmetic is engine-exact: ranks are integers, each term is one
double division, and the sum is two terms in a fixed order — so the
fused score replays bit-for-bit in SQL.

Scale shape: RRF in the literature fuses bounded candidate LISTS, not
whole-corpus rankings — each system contributes its top-`depth`. That
is also exactly the scalable plan. The lexical leg's
`orderBy(...).limit(depth)` lowers to TakeOrderedAndProject
(per-partition partial top-depth, then a single bounded merge of
≤ depth rows per partition), and the dense leg is `knn_exact`'s
per-batch top-depth and window merge, so no corpus-wide
single-partition sort ever runs. Ranks are then assigned on the
≤ depth surviving rows — identical to the global rank for every row
that survives, because a row in the global top-depth is necessarily in
its partition's top-depth under the same total order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chroma_rs_spark.operators.knn import knn_exact
from chroma_rs_spark.operators.text import bm25_scores

RRF_K0 = 60  # the standard damping constant from the RRF literature
RRF_DEPTH = 1000  # default per-system candidate-list depth


def _ranked_topn(
    df: DataFrame, order: list[Column], depth: int, out: str, key: str
) -> DataFrame:
    """Global top-`depth` rows under `order`, with their exact global
    rank in `out`. The limit lowers to TakeOrderedAndProject (bounded
    partial top-k merge); the row_number window then runs over at most
    `depth` rows — partitioned on pmod(`key`, 1), a constant-0 spec
    the optimizer cannot constant-fold away (a bare lit gets folded
    and WindowExec then logs its unpartitioned warning every action).
    Same single bounded partition; no corpus-scale hazard because the
    input is already ≤ depth rows."""
    top = df.orderBy(*order).limit(depth)
    w = Window.partitionBy(F.pmod(F.xxhash64(F.col(key)), F.lit(1))).orderBy(
        *order
    )
    return top.withColumn(out, F.row_number().over(w))


def hybrid_search_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    k0: int = RRF_K0,
    k1: float = 1.2,
    b: float = 0.75,
    depth: int = RRF_DEPTH,
    doc_id: str = "doc_id",
    vec_id: str = "vec_id",
    emb_col: str = "embedding",
    require_both: bool = True,
) -> DataFrame:
    """Top-k documents under RRF fusion of a BM25 text query and a
    cosine vector query (doc_id == vec_id joins the two modalities).

    Returns (doc_id, bm25_rank, vec_rank, rrf) ordered by (rrf desc,
    doc_id) — both input ranks are reported so callers can see which
    modality surfaced each hit. Every rank uses the repo-wide
    deterministic tie-break (score desc / distance asc, then id asc)
    over round-6 scores.

    Contract: fusion is over each system's top-`depth` candidate list
    (the standard RRF formulation). With `require_both=True` (default,
    what the DuckDB oracle mirrors) a document must appear in BOTH
    lists to receive a fused score — single-modality hits (e.g. a null
    embedding, or rank > depth in one system) do not surface. With
    `require_both=False` the candidate lists are UNIONED and a missing
    rank takes the convention value depth+1 ("just past the end of the
    list"), so one-sided documents still receive a damped fused score;
    the missing side's rank column reports NULL.
    """
    if not terms:
        raise ValueError("hybrid_search_rrf needs a non-empty terms list")
    # the dense leg is the exact cosine top-`depth` of knn_exact: NULL
    # embeddings and NaN distances (zero-norm, NaN components) never
    # rank
    vec_ranked = knn_exact(
        emb, [(0, query_vec)], k=depth, metric="cosine", item_id=vec_id,
        item_emb=emb_col,
    ).select(F.col(vec_id).alias(doc_id), F.col("rank").alias("vec_rank"))
    # lexical leg + fusion shared with the ANN-candidate path — only
    # MATCHING documents are lexical candidates (the bm25 > 0 filter
    # lives there; ranking 0.0 non-matches by the tie-break would hand
    # low-id non-matches id-dependent ranks)
    return hybrid_search_rrf_from_candidates(
        docs,
        terms,
        vec_ranked,
        k=k,
        k0=k0,
        k1=k1,
        b=b,
        depth=depth,
        doc_id=doc_id,
        require_both=require_both,
    )


def hybrid_search_rrf_from_candidates(
    docs: DataFrame,
    terms: list[str],
    vec_ranked: DataFrame,
    k: int = 10,
    k0: int = RRF_K0,
    k1: float = 1.2,
    b: float = 0.75,
    depth: int = RRF_DEPTH,
    doc_id: str = "doc_id",
    require_both: bool = True,
) -> DataFrame:
    """RRF fusion of the BM25 lexical leg against an INJECTED vector
    candidate list — `vec_ranked` is (doc_id, vec_rank) rows from
    whichever index produced them (exact cosine, sign-bucket,
    IVF-PQ...). This is the scale-path hybrid: at 100 TB the vector
    leg comes from an ANN index that reads codes in probed cells, not
    a corpus-wide exact ranking, and fusion only ever sees each
    system's bounded candidate list. `hybrid_search_rrf` (exact
    cosine leg) delegates here, so both paths share one fusion
    arithmetic and one lexical leg. Ranks in `vec_ranked` must follow
    the repo-wide deterministic tie-break contract; rows ranked past
    `depth` are truncated before fusion (the candidate-list
    formulation)."""
    if not terms:
        raise ValueError(
            "hybrid_search_rrf_from_candidates needs a non-empty terms list"
        )
    bm = bm25_scores(docs, terms, k1=k1, b=b)
    bm = bm.filter(F.col("bm25") > F.lit(0.0))
    bm_ranked = _ranked_topn(
        bm.select(doc_id, "bm25"),
        [F.col("bm25").desc(), F.col(doc_id).asc()],
        depth,
        "bm25_rank",
        key=doc_id,
    ).select(doc_id, "bm25_rank")
    vec_ranked = vec_ranked.filter(F.col("vec_rank") <= F.lit(int(depth)))
    if require_both:
        joined = bm_ranked.join(vec_ranked, doc_id)
        br, vr = F.col("bm25_rank"), F.col("vec_rank")
    else:
        joined = bm_ranked.join(vec_ranked, doc_id, "full_outer")
        miss = F.lit(depth + 1)
        br = F.coalesce(F.col("bm25_rank"), miss)
        vr = F.coalesce(F.col("vec_rank"), miss)
    rrf: Column = F.round(
        F.lit(1.0) / (F.lit(float(k0)) + br)
        + F.lit(1.0) / (F.lit(float(k0)) + vr),
        6,
    ) + F.lit(0.0)
    return (
        joined.select(
            doc_id,
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(doc_id).asc())
        .limit(k)
    )
