"""Distributed connected components + dedup clustering.

Completes the near-dup pipeline: pair mining (minhash LSH,
operators/dedup.py) emits candidate *pairs*; training-data curation
needs *clusters* with one canonical document per cluster. Connected
components turns the pair graph into cluster labels.

Two execution paths, chosen by edge count (adaptive, the same
philosophy as Spark's broadcast-join threshold):

- **local union-find** (edges ≤ `local_threshold`): funnel the edge
  list — *only the candidate pairs, never the corpus* — into one
  mapInPandas task and run path-compressed union-find there
  (`_cc_local_lazy`). Near-dup pair sets are orders of magnitude
  smaller than the corpus, so at moderate scale this is a bounded
  single-task pass, and it costs one job instead of a fixpoint loop.
- **alternating large-star / small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) above the threshold —
  the standard shared-nothing CC formulation (also used by
  GraphFrames). Each round is joins + aggregations on the edge list;
  adjacency lists are never collected, so any-degree nodes stay
  streams of narrow rows, and it converges in O(log n) rounds even on
  path graphs where naive min-propagation needs O(diameter). This is
  the 100 TB path: billions of candidate pairs shuffle by node id,
  round count grows with the log of the largest component only.

Convergence detection: the edge set is a fixpoint exactly when it is
a disjoint star forest (every edge points node -> root, no root has
an outgoing edge, no node has two parents). That predicate is one
aggregation over the edge list per round — no extra confirmation
round of star operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


_INTEGRAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """The id guard of every kernel that emits LONG ids: the union-find
    (_cc_local_lazy) labels components by integer path compression, and
    the numpy pair kernel (similarity.cosine_topk_pairs) emits
    `id_a long, id_b long` oriented by integer min/max. A string id
    would miscast or fail mid-job with an opaque ANSI cast error (or,
    pre-guard, silently NULL out an argmax built on unary minus,
    ADVICE r7). Fail loudly at plan-build instead."""
    t = dict(df.dtypes).get(id_col)
    if t not in _INTEGRAL_ID_TYPES:
        raise TypeError(
            f"{op}: id column {id_col!r} must be an integral type "
            f"({', '.join(_INTEGRAL_ID_TYPES)}), got {t!r} — the "
            "kernels emit LONG ids and compare them as integers. Map "
            "string ids to a surrogate integer first (e.g. "
            "monotonically_increasing_id or a dense rank)."
        )


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected neighborhood view: both directions, no self-loops."""
    fwd = edges.select(F.col("u"), F.col("v"))
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return fwd.union(rev).where(F.col("u") != F.col("v")).distinct()


def _min_neighbor(sym: DataFrame) -> DataFrame:
    """m(u) = min(N(u) ∪ {u}) for every node with at least one edge."""
    return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m(u)."""
    sym = _symmetrize(edges)
    m = _min_neighbor(sym)
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every ≤-neighbor of u, and u itself, to m(u)."""
    sym = _symmetrize(edges)
    m = _min_neighbor(sym)
    moved = (
        sym.join(m, "u")
        .where(F.col("v") <= F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select(F.col("u"), F.col("m").alias("v"))
    return moved.union(self_edge).where(F.col("u") != F.col("v")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """One aggregation: every node has ≤1 parent, parents are smaller,
    and no node is both a child and a parent (disjoint stars)."""
    stacked = edges.select(
        F.col("u").alias("node"),
        F.lit(1).alias("as_child"),
        F.lit(0).alias("as_parent"),
        (F.col("v") >= F.col("u")).cast("int").alias("bad_dir"),
    ).union(
        edges.select(F.col("v"), F.lit(0), F.lit(1), F.lit(0))
    )
    row = (
        stacked.groupBy("node")
        .agg(
            F.sum("as_child").alias("nc"),
            F.max("as_parent").alias("np"),
            F.max("bad_dir").alias("bd"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    (
                        (F.col("nc") > 1)
                        | ((F.col("nc") > 0) & (F.col("np") > 0))
                        | (F.col("bd") > 0)
                    ).cast("int")
                ),
                F.lit(0),
            ).alias("violations")
        )
        .first()
    )
    return int(row["violations"]) == 0


def _cc_distributed(cur: DataFrame, max_iter: int, with_sizes: bool) -> DataFrame:
    for _ in range(max_iter):
        # localCheckpoint truncates lineage each round; without it the
        # plan doubles per iteration and analysis time explodes.
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        if _is_star_forest(cur):
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # Star forest: (node -> root) for every non-root; roots only on v.
    comp = cur.groupBy("u").agg(F.min("v").alias("component"))
    roots = (
        cur.select(F.col("v").alias("u"))
        .distinct()
        .join(cur.select("u").distinct(), "u", "left_anti")
        .select("u", F.col("u").alias("component"))
    )
    out = comp.union(roots).select(F.col("u").alias("node"), "component")
    if not with_sizes:
        return out
    return out.withColumn(
        "component_size",
        F.count(F.lit(1)).over(Window.partitionBy("component")),
    )


def _cc_local_lazy(edges: DataFrame, with_sizes: bool) -> DataFrame:
    """LAZY bounded-graph path: path-compressed union-find inside a
    single mapInPandas task (component = min node id), expressed as a
    DataFrame transformation — no driver action, no collect — so a
    caller's plan stays fully lazy (and a bench/driver can time
    plan-build and execution separately instead of charging a fixpoint
    loop).

    The repartition(1) keeps the upstream pair-mining stages parallel
    and funnels only the (u, v) pair rows into one task; the caller
    asserts boundedness (LSH candidate pairs ≪ corpus by
    construction). For unbounded graphs use connected_components,
    whose gate counts edges and falls over to the large-star /
    small-star fixpoint.
    """
    import pandas as pd

    schema = "node LONG, component LONG" + (
        ", component_size LONG" if with_sizes else ""
    )

    def uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        nodes: set[int] = set()
        for pdf in batches:
            us, vs = pdf["u"].tolist(), pdf["v"].tolist()
            nodes.update(us)
            nodes.update(vs)
            for a, b in zip(us, vs):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        if not nodes:
            return
        labels = {int(n): find(int(n)) for n in nodes}
        out = pd.DataFrame(
            {"node": list(labels.keys()), "component": list(labels.values())}
        )
        if with_sizes:
            out["component_size"] = out["component"].map(
                out["component"].value_counts()
            )
        yield out

    pairs = edges.where(F.col("u") != F.col("v")).repartition(1)
    return pairs.mapInPandas(uf, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
    with_sizes: bool = False,
) -> DataFrame:
    """Component label (= min node id in the component) per node.

    `edges` is an undirected edge list; returns (node, component[,
    component_size]) for every node that appears in at least one
    NON-SELF edge (self-loops are dropped on both paths, so a node
    with only self-loops counts as isolated). Isolated nodes are the
    caller's to re-attach (left join + coalesce(component, id)). Set
    ``local_threshold=0`` to force the distributed path.
    """
    cur = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if local_threshold > 0 and cur.count() <= local_threshold:
        return _cc_local_lazy(cur, with_sizes)
    return _cc_distributed(cur, max_iter, with_sizes)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    sim_col: str = "est_jaccard",
    local_threshold: int = 2_000_000,
    lazy_local: bool = False,
) -> DataFrame:
    """Cluster near-dup candidate pairs and pick one keeper per cluster.

    (doc_id, cluster_id, cluster_size, keep): cluster_id is the min
    doc id of the connected component; singletons are their own
    cluster; keep is true exactly for the cluster representative —
    the row set a curation pipeline feeds into its final filter.

    `lazy_local=True` asserts the candidate-pair set is bounded (true
    for banded-LSH pairs over any thresholded corpus by construction)
    and uses the lazy single-task union-find (_cc_local_lazy) — the
    whole result stays one unexecuted DataFrame, no driver actions.
    Default False keeps the adaptive count-gated choice between the
    single-task union-find and the distributed star fixpoint.

    Precondition: every id in `pairs` must exist in `docs` (true by
    construction when pairs are mined from the same relation, as every
    caller here does). An id present only in `pairs` would leave its
    cluster without a keeper row when it is the component minimum.
    """
    _require_integral_id(docs, id_col, "dedup_clusters")
    edges = pairs.where(F.col(sim_col) >= F.lit(threshold)).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # sizes ride along inside the cc result (counted locally on the
    # union-find path), so docs outside it are singletons of size 1
    # and the assembly is a single left join against the corpus
    if lazy_local:
        lookup = _cc_local_lazy(
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            with_sizes=True,
        )
    else:
        lookup = connected_components(
            edges, local_threshold=local_threshold, with_sizes=True
        )
    lookup = lookup.select(
        F.col("node").alias(id_col),
        F.col("component").alias("_cid"),
        F.col("component_size").alias("_sz"),
    )
    return (
        docs.select(F.col(id_col))
        .join(lookup, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_cid"), F.col(id_col)).alias("cluster_id"),
            F.coalesce(F.col("_sz"), F.lit(1)).alias("cluster_size"),
            (
                F.coalesce(F.col("_cid"), F.col(id_col)) == F.col(id_col)
            ).alias("keep"),
        )
    )


def pair_graph_components(
    pairs: DataFrame,
    threshold: float,
    sim_col: str = "est_jaccard",
) -> DataFrame:
    """(node, component) labels for every id on a thresholded candidate
    pair edge — the lazy bounded-pair union-find (_cc_local_lazy) with
    NO corpus join attached.

    This is the curate-pipeline fusion surface (round 14): a caller
    holding the corpus can attach labels with ONE left join and derive
    both `dedup_clusters` verdicts from them in place —
    keep == (coalesce(component, id) == id), cluster_id ==
    coalesce(component, id) — instead of calling an operator that joins
    the corpus internally and then joining the corpus AGAIN to apply
    the verdict. Labels are bit-identical to `dedup_clusters
    (lazy_local=True)` on the same pairs: same edge filter, same
    union-find kernel, same min-id component convention.
    """
    _require_integral_id(pairs, "id_a", "pair_graph_components")
    edges = pairs.where(F.col(sim_col) >= F.lit(threshold)).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    return _cc_local_lazy(edges, with_sizes=False)


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    sim_col: str = "est_jaccard",
    lazy_local: bool = False,
) -> DataFrame:
    """`dedup_clusters` with the keeper policy production pipelines
    actually use: keep the BEST-scoring document of each near-dup
    cluster (highest `score_col`; ties and all-NULL clusters fall back
    to the lowest id), not the arbitrary min-id member — when a page
    and its truncated mirror collide, the longer/cleaner copy should
    survive.

    Returns (id, cluster_id, cluster_size, <score_col>, keep). NULL
    scores rank below every non-NULL score.

    Scale shape: the clustering is `dedup_clusters` unchanged; the
    selection adds ONE hash shuffle on cluster_id (a groupBy argmax as
    max(struct(score, -id)) — map-side partials apply — plus the join
    back). No window over an unbounded partition: the argmax is an
    aggregate, so a pathological mega-cluster costs a skewed-key
    reduce (AQE-splittable), never a single-task sort.
    """
    cl = dedup_clusters(
        docs,
        pairs,
        id_col=id_col,
        threshold=threshold,
        sim_col=sim_col,
        lazy_local=lazy_local,
    ).select(id_col, "cluster_id", "cluster_size")
    scored = cl.join(docs.select(id_col, score_col), id_col)
    # lexicographic argmin key: (-score with NULL -> +inf, id) — the
    # min over the negated score is the max score, and ties on score
    # resolve to the LOWEST id, matching dedup_clusters'
    # deterministic-keeper convention. The id is compared UN-negated,
    # so non-numeric (string) ids order lexicographically instead of
    # silently casting to NULL under unary minus (ADVICE r7).
    sk = F.coalesce(
        -F.col(score_col).cast("double"), F.lit(float("inf"))
    )
    best = scored.groupBy("cluster_id").agg(
        F.min(F.struct(sk.alias("ns"), F.col(id_col).alias("i"))).alias(
            "_b"
        )
    )
    return scored.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        score_col,
        (F.col(id_col) == F.col("_b.i")).alias("keep"),
    )
